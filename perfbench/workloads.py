"""The two workloads. Each is a closed loop with one client: the next
operation starts when the previous one returns.

A workload object goes through ``build_base`` (when ``base_stale``: once
per checkout and sources, in a session of its own, not part of set-up
time), ``prepare`` (repeated; input
generation), ``build_state`` (once; starting state), ``warmup`` (once;
unmeasured operations), then ``op`` in a loop, then ``check`` (outside
the timed region). The program is driven only through its public functions:
``plans.pipeline.run_to_store`` / ``construct_kg``,
``sinks.named_graph.NamedGraphStore`` and ``__spark_entry__.queries()``.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import statistics
import time
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import datagen
from .stats import geomean, percentile
from .trace import Tracer, plan_df


def pages_for_docs(n_docs: int) -> int:
    """Page rows ``fixtures.pages_from_docs`` derives from ``n_docs``
    documents: every doc a v1, every 10th a v2 update, every 50th a v3
    tombstone."""
    return n_docs + (n_docs + 9) // 10 + (n_docs + 49) // 50


def triples_digest(df):
    """(row count, sum of a 31-bit row hash) of a triples DataFrame —
    an order-insensitive multiset digest computed by Spark."""
    from pyspark.sql import functions as F

    cols = ["graph", "subject", "predicate", "object", "object_is_iri", "object_datatype"]
    h = F.pmod(F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]),
               F.lit(2**31))
    row = df.select(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def _row_key(r) -> tuple:
    return (r["graph"], r["subject"], r["predicate"], r["object"], r["object_is_iri"],
            r["object_datatype"])


class Workload:
    name = ""
    #: operations per complete unit (a leaf pass for leaf_queries)
    unit = 1

    def __init__(self, spark, work: str, seed: int, cores: int, source: str) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cores = cores
        #: digest of the program and benchmark sources (run.source_digest)
        self.source = source
        self.detail: dict = {}

    def base_stale(self) -> bool:
        """Whether the state that is the same for every seed must be built
        (again) by ``build_base``."""
        return False

    def build_base(self) -> None:
        pass

    def prepare(self, rep: int) -> None:
        raise NotImplementedError

    def build_state(self) -> None:
        pass

    def warmup(self) -> None:
        raise NotImplementedError

    def op(self, i: int, tracer: Tracer | None) -> dict:
        raise NotImplementedError

    def check(self, ops: list[dict]) -> set[int]:
        """Indices of the measured operations whose results are wrong."""
        raise NotImplementedError

    def wall(self, ops: list[dict]) -> float:
        """The workload's ``wall_s``: median latency of one operation."""
        return statistics.median(o["wall_s"] for o in ops)

    def e2e(self, ops: list[dict]) -> dict[str, tuple[float, str, int]]:
        """The workload's named end-to-end metrics: (value, unit, samples)."""
        raise NotImplementedError

    def done(self, i: int) -> bool:
        """True when no further operation can run (inputs exhausted)."""
        return False


# ---------------------------------------------------------------------------
# kg_incremental: a full KG build at set-up, then ~1% feeds + point lookups
# ---------------------------------------------------------------------------

def graph_iri(doc_id: int) -> str:
    """The named graph of a page (``fixtures`` url of the document)."""
    return f"https://ex{doc_id % 97}.example.org/p/{doc_id}"


class KgIncremental(Workload):
    """The base store is a full KG build: the base pages go through
    ``run_to_store`` into a fresh store (fused Arrow mapper plus a
    full-volume store write). It is the same for every seed, so the first
    run of a checkout's sources builds and checks it and keeps a pristine
    copy; every run restores its store from that copy. Each operation applies one
    seeded feed through ``run_to_store(incremental=True)`` and makes
    ``LOOKUPS`` point lookups of the feed's graphs through
    ``NamedGraphStore.graphs``."""

    name = "kg_incremental"
    N_BASE = 1000          # base documents (urls)
    N_UPDATE = 10          # urls whose version advances per feed (1%)
    N_TOMB = 2             # live urls tombstoned per feed
    N_NEW = 2              # new urls per feed
    LOOKUPS = 2
    N_FEEDS = 8            # the last WARMUP ones are the warm-up's
    WARMUP = 1
    BASE_SEED = 1_000_003

    def base_docs(self) -> pa.Table:
        return datagen.documents_table(np.random.default_rng(self.BASE_SEED), np.arange(self.N_BASE))

    def prepare(self, rep: int) -> None:
        """Generate the seeded feeds' documents (no Spark)."""
        d = os.path.join(self.work, f"input{rep}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        base = self.base_docs()
        rng = np.random.default_rng(self.seed)
        # page versions are 1..3 (the shape registry's range). Base urls
        # with doc_id % 10 != 0 are at v1, and a feed updates them to v2.
        # Only docs with doc_id % 50 == 0 have tombstone pages; the base
        # keeps those (v3) for doc_id % 250 == 0, so the other ones stay
        # live at v2 and a feed tombstones them at v3. New urls are v1.
        live = np.array([i for i in range(self.N_BASE) if i % 10 != 0])
        upd = rng.permutation(live)[: self.N_FEEDS * self.N_UPDATE].reshape(self.N_FEEDS, -1)
        tomb_ok = np.array([i for i in range(0, self.N_BASE, 50) if i % 250 != 0])
        tomb = rng.permutation(tomb_ok)[: self.N_FEEDS * self.N_TOMB].reshape(self.N_FEEDS, -1)
        new = np.arange(self.N_FEEDS * self.N_NEW).reshape(self.N_FEEDS, -1) + self.N_BASE
        fresh_ids = np.concatenate([upd, new], axis=1)
        feed_of = {int(x): k for k, row in enumerate(fresh_ids) for x in row}
        feed_of.update({int(x): k for k, row in enumerate(tomb) for x in row})
        pq.write_table(datagen.documents_table(rng, fresh_ids.ravel()),
                       os.path.join(d, "fresh_docs.parquet"))
        pq.write_table(base.filter(pa.compute.is_in(base["doc_id"], pa.array(tomb.ravel()))),
                       os.path.join(d, "dead_docs.parquet"))
        pq.write_table(pa.table({"doc_id": list(feed_of), "feed": list(feed_of.values())}),
                       os.path.join(d, "feed_of.parquet"))
        self.input_dir = d
        self.tomb_ids = tomb.ravel().tolist()
        self.feeds = []
        for k in range(self.N_FEEDS):
            graphs = [graph_iri(int(x)) for x in np.concatenate([fresh_ids[k], tomb[k]])]
            self.feeds.append({
                "pages": os.path.join(d, "feeds", f"feed={k}"),
                "n_pages": len(graphs),
                "lookups": [graphs[j] for j in rng.choice(len(graphs), self.LOOKUPS, replace=False)],
                "tombstoned": {graph_iri(int(x)) for x in tomb[k]},
            })

    def _cache(self) -> str:
        return os.path.join(os.path.dirname(self.work), "cache", self.name)

    def base_stale(self) -> bool:
        """The cached base store is reused only if the same program and
        benchmark sources built and checked it."""
        meta = os.path.join(self._cache(), "build.json")
        if not os.path.exists(meta):
            return True
        with open(meta) as f:
            return json.load(f).get("source_sha256") != self.source

    def build_base(self) -> None:
        """Build the base store into the cache and check it against the
        golden-text pipeline over the same pages."""
        from pyspark.sql import functions as F

        from genegraph_spark import fixtures
        from genegraph_spark.plans import pipeline
        from genegraph_spark.sinks.named_graph import NamedGraphStore

        cache = self._cache()
        shutil.rmtree(cache, ignore_errors=True)
        tmp = cache + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        pq.write_table(self.base_docs(), os.path.join(tmp, "base_docs.parquet"))
        docs = self.spark.read.parquet(os.path.join(tmp, "base_docs.parquet"))
        fixtures.pages_from_docs(docs.select("doc_id", "text", "lang")).where(
            ~F.col("tombstone") | (F.col("doc_id") % 250 == 0)
        ).repartition(2 * self.cores, F.col("url")).write.parquet(os.path.join(tmp, "base_pages"))
        pages = self.spark.read.parquet(os.path.join(tmp, "base_pages"))
        t0 = time.perf_counter()
        pipeline.run_to_store(self.spark, tmp, os.path.join(tmp, "pristine"), pages=pages)
        build_s = time.perf_counter() - t0
        got = triples_digest(NamedGraphStore(self.spark, os.path.join(tmp, "pristine")).triples())
        want = triples_digest(pipeline.construct_kg(self.spark, tmp, pages=pages,
                                                    use_golden_text=True).triples)
        n_pages = pages.count()
        with open(os.path.join(tmp, "build.json"), "w") as f:
            json.dump({"source_sha256": self.source, "build_s": build_s, "pages": n_pages,
                       "pages_per_s": n_pages / build_s, "rows": got[0], "golden_rows": want[0],
                       "ok": got == want}, f)
        os.rename(tmp, cache)

    def build_state(self) -> None:
        from pyspark.sql import functions as F

        from genegraph_spark import fixtures

        with open(os.path.join(self._cache(), "build.json")) as f:
            self.detail["base_store"] = json.load(f)
        self.pristine = os.path.join(self._cache(), "pristine")
        self.store = os.path.join(self.work, "store")

        read = lambda p: self.spark.read.parquet(os.path.join(self.input_dir, p))  # noqa: E731
        feed_pages = fixtures.pages_from_docs(
            read("fresh_docs.parquet").unionByName(read("dead_docs.parquet")).select(
                "doc_id", "text", "lang")
        ).where(
            (F.col("version") == 1) & ~F.col("doc_id").isin(self.tomb_ids)
            | F.col("tombstone") & F.col("doc_id").isin(self.tomb_ids)
        )
        version = (F.when(F.col("tombstone"), 3).when(F.col("doc_id") >= self.N_BASE, 1)
                   .otherwise(2))
        feed_pages.join(read("feed_of.parquet"), "doc_id").withColumn("version", version).repartition(
            "feed").write.partitionBy("feed").parquet(os.path.join(self.input_dir, "feeds"))
        self._restore()

    def _restore(self) -> None:
        shutil.rmtree(self.store, ignore_errors=True)
        shutil.copytree(self.pristine, self.store)

    def _commit_and_read(self, feed: dict, tracer: Tracer | None) -> dict:
        from genegraph_spark.plans import pipeline
        from genegraph_spark.sinks.named_graph import NamedGraphStore

        t0 = time.perf_counter()
        pipeline.run_to_store(self.spark, self.input_dir, self.store,
                              pages=self.spark.read.parquet(feed["pages"]), incremental=True)
        commit_s = time.perf_counter() - t0
        store = NamedGraphStore(self.spark, self.store)
        lookup_s, rows = [], {}
        for g in feed["lookups"]:
            t1 = time.perf_counter()
            if tracer is not None:
                with tracer.span("store.lookup"):
                    got = store.graphs([g]).collect()
            else:
                got = store.graphs([g]).collect()
            lookup_s.append(time.perf_counter() - t1)
            rows[g] = Counter(_row_key(r) for r in got)
        return {"commit_s": commit_s, "lookup_s": lookup_s, "rows": rows,
                "wall_s": time.perf_counter() - t0}

    def warmup(self) -> None:
        # one commit on the restored base, then restore the pristine copy:
        # the measured feeds all start from the same state
        for feed in self.feeds[-self.WARMUP:]:
            self._commit_and_read(feed, None)
        self._restore()

    def op(self, i: int, tracer: Tracer | None) -> dict:
        feed = self.feeds[i]
        rec = self._commit_and_read(feed, tracer)
        rec["pages"] = feed["n_pages"]
        return rec

    def done(self, i: int) -> bool:
        return i >= self.N_FEEDS - self.WARMUP

    def check(self, ops: list[dict]) -> set[int]:
        """The base store must hold exactly the triples of the golden-text
        pipeline over the base pages (checked when it was built; if it
        does not, every commit onto it is wrong), and every lookup must
        return exactly the golden triples of that feed's page for the graph
        (none for a tombstoned graph)."""
        from pyspark.sql import functions as F

        from genegraph_spark.plans import pipeline

        records = {o["i"]: o for o in ops}
        applied = sorted(records)
        if not applied:
            return set()
        graphs = [g for i in applied for g in self.feeds[i]["lookups"]]
        feeds = self.spark.read.parquet(os.path.join(self.input_dir, "feeds")).where(
            F.col("feed").isin(applied)).drop("feed")
        res = pipeline.construct_kg(self.spark, self.input_dir, pages=feeds, use_golden_text=True)
        want_rows: dict[str, Counter] = {g: Counter() for g in graphs}
        for r in res.triples.where(F.col("graph").isin(graphs)).collect():
            want_rows[r["graph"]][_row_key(r)] += 1
        bad = set()
        for i in applied:
            feed, rec = self.feeds[i], records[i]
            if any(rec["rows"][g] != want_rows[g] or (g in feed["tombstoned"]) != (not rec["rows"][g])
                   for g in feed["lookups"]):
                bad.add(i)
        self.detail["bad_feeds"] = sorted(bad)
        return set(applied) if not self.detail["base_store"]["ok"] else bad

    def e2e(self, ops: list[dict]) -> dict:
        commits = [o["commit_s"] for o in ops]
        lookups = [s for o in ops for s in o["lookup_s"]]
        return {
            "build_pages_per_s": (self.detail["base_store"]["pages_per_s"], "1/s", 1),
            "pages_per_s": (sum(o["pages"] for o in ops) / sum(commits), "1/s", len(ops)),
            "commit_p50_s": (percentile(commits, 50), "s", len(commits)),
            "lookup_p50_s": (percentile(lookups, 50), "s", len(lookups)),
            "lookup_p90_s": (percentile(lookups, 90), "s", len(lookups)),
        }


# ---------------------------------------------------------------------------
# leaf_queries: headline __spark_entry__ leaves to a noop sink
# ---------------------------------------------------------------------------

#: headline leaves, one per layer of the program they exercise; together
#: they reach plans.pipeline + operators.mentions (kg_triples),
#: operators.dedup, similarity, graphstats, sparql (over algebra),
#: functions.textstats and sources.dosage_jira
LEAVES = [
    "kg_triples",
    "dedup_minhash_pairs",
    "sim_topk",
    "graph_pagerank",
    "text_stats",
    "kg_dosage_jira",
    "alg_sparql_select",
    "tpch_q1",
]


def load_oracle_checker(root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_oracles", os.path.join(root, "scripts", "check_oracles.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class LeafQueries(Workload):
    """Each operation runs one leaf query to a noop sink; the leaves run in
    passes, and a run measures whole passes only."""

    name = "leaf_queries"
    SF = 0.001
    unit = len(LEAVES)
    #: pages kg_triples feeds to construct_kg (sf0.001 has 500 documents)
    PAGES = pages_for_docs(500)

    def prepare(self, rep: int) -> None:
        d = os.path.join(self.work, f"input{rep}")
        shutil.rmtree(d, ignore_errors=True)
        self.sf_dir = datagen.write_tables(d, self.seed, self.SF)

    def warmup(self) -> None:
        """One pass that collects every leaf's rows and compares them with
        the leaf's DuckDB oracle (row count, columns, value hash)."""
        import duckdb

        import __spark_entry__ as E

        root = os.path.dirname(os.path.abspath(E.__file__))
        chk = load_oracle_checker(root)
        qs, oracles = E.queries(), E.oracle_sql()
        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        self.oracle_fail = []
        for name in LEAVES:
            df = qs[name](self.spark, self.sf_dir)
            scols, srows = df.columns, [tuple(r) for r in df.collect()]
            otab = con.execute(oracles[name]).arrow()
            ocols = list(otab.column_names)
            orows = list(zip(*[c.to_pylist() for c in otab.columns]))
            if (sorted(scols) != sorted(ocols) or len(srows) != len(orows)
                    or chk.table_hash(scols, srows) != chk.table_hash(ocols, orows)):
                self.oracle_fail.append(name)
        con.close()
        self.queries = qs

    def op(self, i: int, tracer: Tracer | None) -> dict:
        name = LEAVES[i % len(LEAVES)]
        t0 = time.perf_counter()
        # pages this operation feeds to the page mapper (mapper.extract_amp)
        pages = self.PAGES if name == "kg_triples" else 0
        if tracer is None:
            self.queries[name](self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            return {"wall_s": time.perf_counter() - t0, "leaf": name, "pages": pages}
        with tracer.span(f"leaf.{name}"):
            with tracer.span("leaf.build"):
                df = self.queries[name](self.spark, self.sf_dir)
            plan_df(tracer, df, "leaf.plan")
            with tracer.span("leaf.exec"):
                df.write.format("noop").mode("overwrite").save()
        return {"wall_s": time.perf_counter() - t0, "leaf": name, "pages": pages}

    def check(self, ops: list[dict]) -> set[int]:
        """A measured run of a leaf whose warm-up rows did not match its
        oracle is wrong."""
        self.detail["oracle_failures"] = self.oracle_fail
        return {o["i"] for o in ops if o["leaf"] in self.oracle_fail}

    def wall(self, ops: list[dict]) -> float:
        """Geometric mean over leaves of each leaf's median latency."""
        by: dict[str, list[float]] = {}
        for o in ops:
            by.setdefault(o["leaf"], []).append(o["wall_s"])
        return geomean([statistics.median(v) for v in by.values()])

    def e2e(self, ops: list[dict]) -> dict:
        return {"leaf_geomean_s": (self.wall(ops), "s", len(ops))}


WORKLOADS = {w.name: w for w in (KgIncremental, LeafQueries)}
