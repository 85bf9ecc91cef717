"""Round-4 additions: the single-writer lock race, cluster-reps plan shape,
nested SHACL node shapes, RDF/XML round trip, assertion-backed resolvers."""

from __future__ import annotations

import multiprocessing as mp
import os

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Single-writer lock: N processes race for it
# ---------------------------------------------------------------------------


def _lock_worker(store_path, barrier, hold, results, idx):
    """Try to take the store's writer lock; the winner holds it until told
    to release, so the losers must observe a LIVE holder."""
    from genegraph_spark.sinks.named_graph import NamedGraphStore

    store = NamedGraphStore.__new__(NamedGraphStore)
    store.path = store_path
    barrier.wait()
    try:
        with store._commit_lock():
            results[idx] = "won"
            hold.wait()
    except RuntimeError:
        results[idx] = "lost"


class TestLockReclaimRace:
    def test_exactly_one_reclaimer_wins(self, tmp_path):
        """Four live writers race for the lock: exactly one wins, the rest
        raise while it holds the lock, and the lock is free once the
        winner releases it."""
        from genegraph_spark.sinks.named_graph import NamedGraphStore

        store_path = str(tmp_path / "store")
        os.makedirs(store_path)
        ctx = mp.get_context("fork")
        n = 4
        barrier = ctx.Barrier(n)
        hold = ctx.Event()
        results = ctx.Manager().dict()
        procs = [
            ctx.Process(
                target=_lock_worker, args=(store_path, barrier, hold, results, i)
            )
            for i in range(n)
        ]
        for p in procs:
            p.start()
        # wait until every process reports a result (winner reports while
        # still holding the lock)
        import time

        deadline = time.time() + 30
        while len(results) < n and time.time() < deadline:
            time.sleep(0.05)
        hold.set()
        for p in procs:
            p.join(timeout=30)
        outcomes = sorted(results.values())
        assert outcomes == ["lost", "lost", "lost", "won"], outcomes
        store = NamedGraphStore.__new__(NamedGraphStore)
        store.path = store_path
        with store._commit_lock():
            pass


# ---------------------------------------------------------------------------
# cluster_representatives: no broadcast of the per-cluster reps frame
# ---------------------------------------------------------------------------


class TestClusterRepsPlan:
    def test_no_broadcast_exchange(self, spark):
        """The reps side is corpus-scale (one row per near-dup cluster);
        the r3 plan broadcast it (VERDICT r3 #3). The r4 plan computes
        rep_id with F.first over the cluster window — assert the physical
        plan has no BroadcastExchange at all and exactly one window."""
        from genegraph_spark.operators.dedup import cluster_representatives

        docs = spark.createDataFrame(
            [(i, "text" + "x" * (i % 5)) for i in range(20)], "doc_id long, text string"
        )
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(0, 18, 2)], "id_a long, id_b long"
        )
        out = cluster_representatives(docs, pairs)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastExchange") == 0, plan
        # the reps join is gone entirely: rep_id comes from ONE window
        assert plan.count("Window [") == 1, plan
        assert "first(doc_id" in plan
        # correctness: one kept representative per cluster, longest text wins
        rows = out.collect()
        clusters = {}
        for r in rows:
            clusters.setdefault(r.cluster, []).append(r)
        for cl, members in clusters.items():
            keeps = [m for m in members if m.keep]
            assert len(keeps) == 1
            assert all(m.rep_id == keeps[0].doc_id for m in members)


# ---------------------------------------------------------------------------
# Nested node shapes (sh:node)
# ---------------------------------------------------------------------------

TRIPLE_SCHEMA = (
    "graph string, subject string, predicate string, object string, "
    "object_is_iri boolean, object_datatype string"
)
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


class TestNestedShapes:
    def _shapes(self):
        from genegraph_spark.operators.validate import NodeShape, PropertyShape

        return [
            NodeShape(
                "Leaf",
                ":LeafType",
                (PropertyShape(":val", min_count=1, datatype="xsd:integer"),),
            ),
            NodeShape(
                "Root",
                ":RootType",
                (PropertyShape(":child", min_count=1, node="Leaf"),),
            ),
        ]

    def test_violation_propagates_through_node_reference(self, spark):
        from genegraph_spark.operators.validate import validate_graph_shapes

        rows = [
            # good: root1 -> leaf1 (valid)
            ("g", "urn:root1", RDF_TYPE, ":RootType", True, None),
            ("g", "urn:root1", ":child", "urn:leaf1", True, None),
            ("g", "urn:leaf1", RDF_TYPE, ":LeafType", True, None),
            ("g", "urn:leaf1", ":val", "5", False, "xsd:integer"),
            # bad: root2 -> leaf2 (leaf2 missing :val → root2 fails sh:node)
            ("g", "urn:root2", RDF_TYPE, ":RootType", True, None),
            ("g", "urn:root2", ":child", "urn:leaf2", True, None),
            ("g", "urn:leaf2", RDF_TYPE, ":LeafType", True, None),
            # bad: root3 has no :child at all (minCount)
            ("g", "urn:root3", RDF_TYPE, ":RootType", True, None),
        ]
        t = spark.createDataFrame(rows, TRIPLE_SCHEMA)
        out = {
            (r.focus, r.shape): (r.conforms, list(r.violations))
            for r in validate_graph_shapes(t, self._shapes()).collect()
        }
        assert out[("urn:leaf1", "Leaf")] == (True, [])
        assert out[("urn:leaf2", "Leaf")] == (False, [":val:minCount"])
        assert out[("urn:root1", "Root")] == (True, [])
        assert out[("urn:root2", "Root")] == (False, [":child:node"])
        assert out[("urn:root3", "Root")] == (False, [":child:minCount"])

    def test_cycle_detection(self, spark):
        from genegraph_spark.operators.validate import (
            NodeShape,
            PropertyShape,
            validate_graph_shapes,
        )

        t = spark.createDataFrame([], TRIPLE_SCHEMA)
        cyc = [
            NodeShape("A", ":A", (PropertyShape(":p", node="B"),)),
            NodeShape("B", ":B", (PropertyShape(":q", node="A"),)),
        ]
        with pytest.raises(ValueError, match="cycle"):
            validate_graph_shapes(t, cyc)

    def test_unknown_reference(self, spark):
        from genegraph_spark.operators.validate import (
            NodeShape,
            PropertyShape,
            validate_graph_shapes,
        )

        t = spark.createDataFrame([], TRIPLE_SCHEMA)
        with pytest.raises(ValueError, match="unknown shape"):
            validate_graph_shapes(
                t, [NodeShape("A", ":A", (PropertyShape(":p", node="Nope"),))]
            )


# ---------------------------------------------------------------------------
# RDF/XML
# ---------------------------------------------------------------------------


class TestRdfXml:
    def test_round_trip_with_special_characters(self, spark):
        from genegraph_spark.functions import serialize as SER

        rows = [
            ("g1", "urn:s", "https://ex/p/title", 'a "<b>&c\nd\re', False, None),
            ("g1", "urn:s", "https://ex/p/n", "7", False, "xsd:integer"),
            ("g1", "urn:s", "https://ex/p/link", "urn:o&<>", True, None),
            ("g1", "urn:s", "https://ex/p/anon", "_:b1", True, None),
            ("g1", "_:b1", "https://ex/p#frag", "leaf", False, None),
            ("g2", "urn:z", "https://ex/p/only", "urn:s", True, None),
        ]
        t = spark.createDataFrame(rows, TRIPLE_SCHEMA)
        docs = SER.rdfxml_docs(t)
        assert docs.count() == 2
        back = SER.parse_rdfxml(docs)
        orig = {tuple(r) for r in t.collect()}
        got = {tuple(r) for r in back.select(*t.columns).collect()}
        assert got == orig

    def test_byte_determinism_across_partitionings(self, spark):
        from genegraph_spark.functions import serialize as SER

        rows = [
            ("g", f"urn:s{i % 3}", "https://ex/p/v", str(i), False, None)
            for i in range(30)
        ]
        a = spark.createDataFrame(rows, TRIPLE_SCHEMA).repartition(8)
        b = spark.createDataFrame(list(reversed(rows)), TRIPLE_SCHEMA).repartition(2)
        da = SER.rdfxml_docs(a).collect()[0].rdfxml
        db = SER.rdfxml_docs(b).collect()[0].rdfxml
        assert da == db


# ---------------------------------------------------------------------------
# Assertion-backed resolvers
# ---------------------------------------------------------------------------


class TestAssertionResolvers:
    def test_affiliation_rollups_consistent(self, spark, sf_dir):
        from genegraph_spark.plans import curation as CUR

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        a = CUR.curation_assertions(ev)
        aff = CUR.affiliations(a)
        # every assertion counted exactly once across affiliations
        total = aff.agg(F.sum("n_assertions")).collect()[0][0]
        assert total == ev.count()
        gc = CUR.genetic_conditions(a)
        row = gc.agg(
            F.sum("n_assertions").alias("n"),
            F.max("n_affiliations").alias("maxaff"),
        ).collect()[0]
        assert row.n == ev.count()
        assert row.maxaff <= 10
        # latest_assertion is a member of the condition's assertion set
        j = gc.join(
            a.select("gene", "disease", "moi", F.col("assertion").alias("latest_assertion")),
            ["gene", "disease", "moi", "latest_assertion"],
            "left_semi",
        )
        assert j.count() == gc.count()

    def test_resolver_registry_dispatch(self, spark, sf_dir):
        from genegraph_spark.plans import curation as CUR

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        a = CUR.curation_assertions(ev)
        assert CUR.affiliations(a).count() == 10


# ---------------------------------------------------------------------------
# Substring-level duplicate spans
# ---------------------------------------------------------------------------


class TestDuplicateSpans:
    def test_shared_run_produces_merged_span(self, spark):
        from genegraph_spark.operators.dedup import duplicate_spans

        shared = "a b c d e f g h i j k l"  # 12 tokens shared verbatim
        docs = spark.createDataFrame(
            [
                (1, "x1 y1 " + shared + " z1 w1"),
                (2, "x2 " + shared + " z2"),
                (3, "totally different words here with no repeats at all"),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in duplicate_spans(docs, k=10).collect()}
        # doc1: shared run starts at token 2, 12 tokens -> 3 grams at
        # pos 2,3,4 merge into one span [2, 13]
        assert (out[1].span_start, out[1].span_end, out[1].n_tokens) == (2, 13, 12)
        assert (out[2].span_start, out[2].span_end, out[2].n_tokens) == (1, 12, 12)
        assert 3 not in out

    def test_disjoint_runs_stay_separate(self, spark):
        from genegraph_spark.operators.dedup import duplicate_spans

        run1 = "p q r s t u v w x y"   # 10 tokens
        run2 = "m n o aa bb cc dd ee ff gg"  # 10 tokens
        docs = spark.createDataFrame(
            [
                (1, run1 + " GAP1 GAP2 GAP3 " + run2),
                (2, run1 + " other other2 other3 other4 " + run2),
            ],
            "doc_id long, text string",
        )
        spans = [
            (r.span_start, r.span_end)
            for r in duplicate_spans(docs, k=10).where("doc_id = 1").collect()
        ]
        # doc1 = run1 (tokens 0-9) + 3 GAP tokens + run2 (tokens 13-22)
        assert sorted(spans) == [(0, 9), (13, 22)]


# ---------------------------------------------------------------------------
# Streamed event loop → named-graph store
# ---------------------------------------------------------------------------


class TestStreamToStore:
    def test_streamed_merges_converge_to_batch_content(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        """The primary loop streamed end to end: two source deliveries →
        per-micro-batch run_to_store commit; final store content must
        equal the one-shot batch pipeline over the same pages, the second
        run must only process the NEW files (checkpoint catch-up), and
        every delivered page goes through the page mapper exactly once."""
        from genegraph_spark import fixtures
        from genegraph_spark.operators import mentions
        from genegraph_spark.plans.pipeline import construct_kg
        from genegraph_spark.sinks.named_graph import NamedGraphStore
        from genegraph_spark.streaming.stream import stream_pages_to_store

        src = str(tmp_path / "src")
        store_path = str(tmp_path / "store")
        ckpt = str(tmp_path / "ckpt")
        pages = fixtures.pages_df(spark, sf_dir)

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
        # delivery 1: even doc_ids (all versions of a url share a doc_id,
        # so url families stay within one delivery)
        pages.where("doc_id % 2 = 0").repartition(2).write.mode("overwrite").parquet(src)
        r1 = stream_pages_to_store(spark, sf_dir, src, store_path, ckpt)
        assert r1["batches"] >= 1 and r1["last_commit"] is not None
        c1 = r1["last_commit"]

        # delivery 2: the odd half arrives later
        pages.where("doc_id % 2 = 1").repartition(2).write.mode("append").parquet(src)
        r2 = stream_pages_to_store(spark, sf_dir, src, store_path, ckpt)
        assert r2["last_commit"] > c1  # new commits for the new files only
        assert emitted.value == pages.count()

        store = NamedGraphStore(spark, store_path)
        got = store.triples().select(
            "graph", "subject", "predicate", "object", "object_is_iri"
        )
        want = construct_kg(spark, sf_dir).triples.select(
            "graph", "subject", "predicate", "object", "object_is_iri"
        )
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

        # idle rerun: nothing new → no additional commits
        r3 = stream_pages_to_store(spark, sf_dir, src, store_path, ckpt)
        assert r3["batches"] == 0
        assert r3["last_commit"] == r2["last_commit"]

    @staticmethod
    def _stream(spark, sf_dir, deliveries, root):
        """Deliver each frame of ``deliveries`` as new source files, one
        ``stream_pages_to_store`` run per delivery onto one store under
        ``root``; return the store and the runs' reports."""
        from genegraph_spark.sinks.named_graph import NamedGraphStore
        from genegraph_spark.streaming.stream import stream_pages_to_store

        src, store_path, ckpt = (str(root / d) for d in ("src", "store", "ckpt"))
        reports = []
        for pages in deliveries:
            pages.coalesce(1).write.mode("append").parquet(src)
            reports.append(stream_pages_to_store(spark, sf_dir, src, store_path, ckpt))
        return NamedGraphStore(spark, store_path), reports

    @staticmethod
    def _rows(store, graphs=None):
        df = store.triples() if graphs is None else store.graphs(graphs)
        return {tuple(r) for r in df.collect()}

    def test_late_older_versions_do_not_regress_urls(self, spark, sf_dir, tmp_path):
        """Micro-batch 1 carries url A's v3 tombstone and url B's v2,
        micro-batch 2 the v1 of both: A stays deleted and B keeps its v2
        triples, as the one-shot batch run over the same pages has it."""
        from genegraph_spark import fixtures
        from genegraph_spark.plans.pipeline import run_to_store

        pages = fixtures.pages_df(spark, sf_dir).where("doc_id IN (0, 10)")
        url_a, url_b = (pages.where(f"doc_id = {d}").first().url for d in (0, 10))
        first = pages.where("(doc_id = 0 AND version = 3) OR (doc_id = 10 AND version = 2)")
        store, _ = self._stream(spark, sf_dir, [first, pages.where("version = 1")], tmp_path)
        assert store.graphs([url_a]).count() == 0
        _, oneshot, _ = run_to_store(spark, sf_dir, str(tmp_path / "oneshot"), pages=first)
        assert self._rows(store, [url_b]) == self._rows(oneshot, [url_b]) != set()
        versions = {(r.graph, r.version) for r in store.processed_versions().collect()}
        assert {(g, v) for g, v in versions if g in (url_a, url_b)} == {(url_a, 3), (url_b, 2)}

    def test_any_split_into_deliveries_equals_the_one_shot_run(self, spark, sf_dir, tmp_path):
        """However a small url subset splits into deliveries, in version
        order, reversed, or mixed, the streamed store equals the one-shot
        run_to_store store."""
        from genegraph_spark import fixtures
        from genegraph_spark.plans.pipeline import run_to_store

        # doc 0: v1, v2, v3 tombstone; docs 10 and 20: v1, v2; doc 1: v1
        pages = fixtures.pages_df(spark, sf_dir).where("doc_id IN (0, 1, 10, 20)")
        _, oneshot, _ = run_to_store(spark, sf_dir, str(tmp_path / "oneshot"), pages=pages)
        want = self._rows(oneshot)
        splits = {
            "ascending": ["version = 1", "version = 2", "version = 3"],
            "reversed": ["version = 3", "version = 2", "version = 1"],
            "mixed": ["version = 2 OR doc_id = 1", "version <> 2 AND doc_id <> 1"],
        }
        for name, parts in splits.items():
            store, _ = self._stream(spark, sf_dir, [pages.where(p) for p in parts], tmp_path / name)
            assert self._rows(store) == want, name

    def test_redelivered_pages_add_no_commit(self, spark, sf_dir, tmp_path):
        """Pages already committed, delivered again as new source files,
        run a micro-batch that commits nothing."""
        from genegraph_spark import fixtures

        pages = fixtures.pages_df(spark, sf_dir).where("doc_id IN (0, 1, 10)")
        store, (r1, r2) = self._stream(spark, sf_dir, [pages, pages], tmp_path)
        assert r2["batches"] == 1
        assert r2["last_commit"] == r1["last_commit"] == store.last_commit()


# ---------------------------------------------------------------------------
# Plan shapes for the round-4 training-data operators
# ---------------------------------------------------------------------------


class TestRound4PlanShapes:
    def test_decontaminate_broadcasts_benchmark_side(self, spark):
        """The benchmark n-gram set is fixed-size: it must broadcast; the
        corpus side must not shuffle into a sort-merge join."""
        from genegraph_spark.functions.textstats import decontaminate

        docs = spark.createDataFrame(
            [(i, " ".join(f"w{i}x{j}" for j in range(20))) for i in range(50)],
            "doc_id long, text string",
        )
        bench = docs.where("doc_id < 3")
        plan = (
            decontaminate(docs, bench, n=8)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_duplicate_spans_no_cartesian_and_single_window(self, spark):
        from genegraph_spark.operators.dedup import duplicate_spans

        docs = spark.createDataFrame(
            [(i, " ".join(f"t{j}" for j in range(15))) for i in range(10)],
            "doc_id long, text string",
        )
        plan = (
            duplicate_spans(docs, k=10)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        # gap-and-island = lag + running sum over the same per-doc sort
        assert plan.count("Window [") <= 2

    def test_pagerank_iteration_count_is_bounded(self, spark):
        """Power iteration is a fixed chain — the checkpointed plan for
        5 iterations must not contain the full unchained lineage."""
        from genegraph_spark.operators.graphstats import pagerank

        e = spark.createDataFrame(
            [(f"n{i}", f"n{(i * 7 + 1) % 40}") for i in range(40)],
            "src string, dst string",
        )
        out = pagerank(e, n_iter=5)
        total = out.agg(F.round(F.sum("rank"), 2)).collect()[0][0]
        # dangling-mass-leaking variant: total <= 1, > teleport floor
        assert 0.1 < total <= 1.001
