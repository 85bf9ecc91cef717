"""Named-graph-partitioned triple store: per-bucket copy-on-write
snapshots with a manifest — replace-by-graph merge, unpublish, lineage,
resume, time travel.

Reference analog: the Jena TDB2 named-graph dataset —
``replaceNamedModel`` upserts a whole graph atomically and
``removeNamedModel`` deletes it (``src/genegraph/database/load.clj:72-87``,
``sink/event.clj:23-46``); the event recorder (``sink/event_recorder.clj:25-62``)
and offset file (``sink/stream.clj:221-236``) make a killed run resumable.

Design (a deliberate miniature of Iceberg's copy-on-write MERGE, which is
what this maps to on a real cluster — ``MERGE INTO triples USING new ON
t.graph = n.graph`` over a table partitioned by ``bucket(graph, N)``):

- rows are hashed to ``bucket = pmod(xxhash64(graph), n_buckets)``;
- a *commit* rewrites only the buckets touched by incoming/deleted
  graphs: previous rows of those buckets are anti-joined against the
  incoming graph set, unioned with the new rows, and written to a fresh
  directory ``data/c<commit>``;
- a JSON *manifest* per commit maps every bucket to the directory that
  currently holds it (untouched buckets keep pointing at older commit
  dirs) — never overwriting files in place gives snapshot isolation,
  safe concurrent readers, time travel, and makes an interrupted commit
  invisible (the manifest is written last);
- whole-graph replace (not row upsert) keeps merges idempotent: the
  incoming graph's rows fully determine the graph, so replaying a batch
  after a crash converges — the reference's idempotence story, kept;
- a merge takes the incoming triples and one per-graph frame ``(graph,
  deleted, version)`` — one fact per named graph, as the reference
  replaces or removes each graph once; from both it derives ONE small
  frame ``(graph, bucket, action, n_triples, version)``, which alone gives
  the touched buckets (one collect of at most ``n_buckets`` rows), the
  keys of the data write's one join and the commit's lineage rows;
- a merge that touches no bucket (every graph it names is skipped or
  unknown) writes nothing and returns the head's manifest, so a replayed
  or fully watermarked feed adds no commit;
- merge, compact and expiry commit the same way: under the store's one
  writer lock (a kernel ``flock`` held for the whole commit, which the
  kernel releases when its holder dies), after checking that no commit
  landed since they read the head and deleting any lineage an
  interrupted commit left under the next id; the manifest, published by
  an atomic rename, is the only thing that makes a commit visible;
- per-bucket metrics are not written: :meth:`NamedGraphStore.metrics`
  derives them on read from each commit's own data dir;
- the manifest carries the content version the dictionary graph was
  published with, so ``run_to_store`` republishes that graph only when
  its content changes or a commit deleted or replaced it.

Scale notes: a merge shuffles only the touched buckets' rows once (the
join on ``graph`` broadcasts the small per-graph frame). Its
cost is copy-on-write of every touched bucket, whole: the incoming and
deleted graphs hash uniformly, so a feed of k graphs touches
1 − (63/64)^k of the 64 buckets — 20% at k = 14, 79% at k = 100 — and
rewrites that share of the table. Skewed graphs are bounded by page
size; bucket counts are chosen so a bucket ≈ one task.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.iri import DICTIONARY_GRAPH

TRIPLE_SCHEMA = (
    "graph string, subject string, predicate string, object string, "
    "object_is_iri boolean, object_datatype string"
)
LINEAGE_SCHEMA = "graph string, n_triples bigint, action string, version bigint, commit int"

_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _le(b: bytes, k: int, width: int = 8) -> int:
    return int.from_bytes(b[k:k + width], "little")


def xxhash64(s: str) -> int:
    """Spark's ``xxhash64(<string column>)`` on the driver: XXH64 over the
    UTF-8 bytes with Spark's default seed 42, as a signed 64-bit value."""
    seed = 42
    b = s.encode("utf-8")
    n, i = len(b), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i <= n - 32:
            for j in range(4):
                v[j] = _xxh_round(v[j], _le(b, i))
                i += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _xxh_round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    tail = n - n % 8
    for k in range(i, tail, 8):
        h = (_rotl(h ^ _xxh_round(0, _le(b, k)), 27) * _P1 + _P4) & _M64
    i = tail
    if i + 4 <= n:
        h = (_rotl(h ^ (_le(b, i, 4) * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    for c in b[i:]:
        h = _rotl(h ^ (c * _P5 & _M64), 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def graph_bucket(graph: str, n_buckets: int) -> int:
    """The store bucket of ``graph``: ``pmod(xxhash64(graph), n_buckets)``,
    the writer's partition transform, computed without a Spark job."""
    return xxhash64(graph) % n_buckets


class NamedGraphStore:
    def __init__(self, spark: SparkSession, path: str, n_buckets: int = 64):
        self.spark = spark
        self.path = path
        self.n_buckets = n_buckets
        self._lineage = os.path.join(path, "lineage")
        self._manifests = os.path.join(path, "manifests")
        os.makedirs(self._manifests, exist_ok=True)
        # the bucket function is part of the PHYSICAL layout: reopening
        # with a different n_buckets would hash graphs into buckets the
        # merge never rewrites (stale rows of replaced graphs survive) —
        # the persisted value always wins
        last = self.last_commit()
        if last is not None:
            persisted = self._read_manifest(last).get("n_buckets")
            if persisted is not None:
                self.n_buckets = persisted

    # -- manifest helpers ---------------------------------------------------
    def _manifest_path(self, commit: int) -> str:
        return os.path.join(self._manifests, f"c{commit:08d}.json")

    def _commits(self) -> list[int]:
        """The ids of the published manifests, oldest first."""
        return sorted(
            int(m[1:-5]) for m in os.listdir(self._manifests)
            if m.startswith("c") and m.endswith(".json")
        )

    def last_commit(self) -> int | None:
        commits = self._commits()
        return commits[-1] if commits else None

    def _read_manifest(self, commit: int) -> dict:
        with open(self._manifest_path(commit)) as f:
            return json.load(f)

    def exists(self) -> bool:
        return self.last_commit() is not None

    def _bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn("bucket", F.expr(f"pmod(xxhash64(graph), {self.n_buckets})"))

    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame([], TRIPLE_SCHEMA + ", bucket bigint")

    def _read_segments(self, manifest: dict, buckets: set[int] | None = None) -> DataFrame:
        """The manifest's segments as ONE scan, optionally restricted to
        buckets.

        The ``bucket=K`` directories the manifest assigns are listed on the
        driver and read together, whichever commit dirs they live in; the
        bucket column is recomputed from ``graph`` (the writer's partition
        transform). One scan keeps a merge's keep-side anti-join a single
        join: a union of per-dir reads gets the join pushed into every
        branch, one broadcast each. A bucket whose rows were all deleted
        has no directory and is skipped."""
        paths = [
            path
            for b_str, d in manifest["buckets"].items()
            if (buckets is None or int(b_str) in buckets)
            and os.path.isdir(path := os.path.join(self.path, d, f"bucket={b_str}"))
        ]
        if not paths:
            return self._empty()
        # explicit schema: no inference pass over the footers
        return self._bucket(self.spark.read.schema(TRIPLE_SCHEMA).parquet(*paths))

    # -- read paths ----------------------------------------------------------
    def triples(self, commit: int | None = None) -> DataFrame:
        """The union model: all named graphs (query.clj:15-16 analog).
        ``commit`` selects a historical snapshot (time travel)."""
        if commit is None:
            commit = self.last_commit()
        if commit is None:
            return self.spark.createDataFrame([], TRIPLE_SCHEMA)
        return self._read_segments(self._read_manifest(commit)).drop("bucket")

    def graphs(self, graph_iris: list[str]) -> DataFrame:
        """Point lookup of specific named graphs (``getNamedModel``,
        load.clj:72-87 read side) — reads ONLY the buckets those graphs
        hash to, so a k-graph lookup scans ~k/n_buckets of the store
        instead of all of it. The IRIs are hashed on the driver
        (:func:`graph_bucket`, the writer's pmod(xxhash64)), so building
        the lookup runs no Spark job. The graph filter on top is pushed
        into the parquet scan."""
        commit = self.last_commit()
        if commit is None:
            return self.spark.createDataFrame([], TRIPLE_SCHEMA)
        wanted = {graph_bucket(g, self.n_buckets) for g in graph_iris}
        seg = self._read_segments(self._read_manifest(commit), wanted)
        return (
            seg.where(F.col("graph").isin(graph_iris))
            .drop("bucket")
        )

    # -- write path ------------------------------------------------------------
    def merge(self, triples: DataFrame, per_graph: DataFrame | None = None) -> dict:
        """Replace every graph ``triples`` carries, and apply ``per_graph``:
        ``(graph string, deleted boolean, version bigint)``, the commit's
        facts about each graph. A deleted graph is removed, also when
        ``triples`` carries it (delete wins — one deterministic outcome
        instead of publish/unpublish racing in the same commit's lineage);
        ``version`` is the graph's source version, recorded in lineage (the
        incremental-ingest watermark). A row for a graph that is neither
        deleted nor carried by ``triples`` changes nothing; a merge that
        changes nothing on a store with a head writes nothing and returns
        the head's manifest.

        The merge reads ``triples`` twice (the per-graph frame, the data
        write); a caller whose plan is expensive caches it first, as
        ``run_to_store`` caches the version heads.

        SINGLE-WRITER contract: exactly one writer may merge at a time
        (matching the reference's single-writer TDB transaction,
        database/util.clj:29-42). The data write uses mode=overwrite so a
        crash-replay converges on the same commit id — which also means
        two CONCURRENT writers computing the same id would interleave
        into the same data dir with last-manifest-wins over mixed data. The
        store's writer lock, a kernel ``flock`` held for the whole commit,
        makes the second writer fail fast."""
        last = self.last_commit()
        with self._locked_commit(last) as commit:
            # ONE small per-graph frame (graph, bucket, action, n_triples,
            # version) is the only source of the touched buckets, the
            # write's join keys and the lineage rows. One aggregation over
            # the two inputs builds it: max(deleted) makes a graph any row
            # deletes an unpublish (delete wins), and a graph with neither
            # a delete nor a triple drops out.
            graphs = triples.selectExpr("graph", "1 AS n", "false AS deleted", "NULL AS version")
            if per_graph is not None:
                graphs = graphs.unionByName(per_graph.selectExpr("graph", "0 AS n", "deleted", "version"))
            graphs = self._bucket(
                graphs.groupBy("graph")
                .agg(F.expr("sum(n) AS n"), F.expr("max(deleted) AS deleted"),
                     F.expr("max(CAST(version AS BIGINT)) AS version"))
                .where("deleted OR n > 0")
                .selectExpr("graph", "IF(deleted, 0, n) AS n_triples",
                            "IF(deleted, 'unpublish', 'publish') AS action", "version")
            ).persist()
            # unpersist on every exit: a write that raises must not leave
            # the frame pinned in the session's cache manager
            try:
                is_dict = f"graph = '{DICTIONARY_GRAPH}'"
                per_bucket = graphs.groupBy("bucket").agg(
                    F.expr(f"max({is_dict}) AS has_dict"),
                    F.expr(f"max(IF({is_dict} AND action = 'publish', version, NULL)) AS dict_version"),
                ).collect()
                touched = {r["bucket"] for r in per_bucket}
                prev = self._read_manifest(last) if last is not None else {"buckets": {}}
                if last is not None and not touched:
                    return prev
                # ONE join against the per-graph frame: a touched bucket's
                # old row stays iff its graph is not in this commit, an
                # incoming row iff its graph is published (not deleted)
                out = (
                    self._read_segments(prev, touched).withColumn("_new", F.lit(False))
                    .unionByName(self._bucket(triples).withColumn("_new", F.lit(True)))
                    .join(graphs.select("graph", "action"), "graph", "left_outer")
                    .where("IF(_new, action = 'publish', action IS NULL)")
                    .drop("_new", "action")
                )
                # the dictionary graph's content version survives every
                # commit that does not touch that graph; a commit that
                # replaces it records the version it came with, one that
                # deletes it none
                dict_version = prev.get("dictionary_version")
                for r in per_bucket:
                    if r["has_dict"]:
                        dict_version = r["dict_version"]
                t0 = time.monotonic()
                data_dir = self._write_data(commit, out)
                write_s = time.monotonic() - t0
                buckets = dict(prev["buckets"])
                for b in range(self.n_buckets) if last is None else touched:
                    buckets[str(b)] = data_dir
                t0 = time.monotonic()
                graphs.select("graph", "n_triples", "action", "version").coalesce(1).write.mode(
                    "overwrite"
                ).parquet(os.path.join(self._lineage, f"commit={commit}"))
                lineage_s = time.monotonic() - t0
                return self._write_manifest(
                    commit, buckets, dict_version,
                    timings={"write_s": round(write_s, 3), "lineage_s": round(lineage_s, 3)},
                )
            finally:
                graphs.unpersist()

    @contextmanager
    def _locked_commit(self, last: int | None):
        """Under the writer lock, yield the id after ``last`` once a re-read
        shows no commit landed since; a commit built on an older head would
        overwrite it. First delete any lineage a killed writer left under
        that id, so no later commit (say, a compaction) publishes it."""
        commit = 0 if last is None else last + 1
        with self._commit_lock():
            if self.last_commit() != last:
                raise RuntimeError(
                    f"store advanced past commit {last!r} while acquiring the "
                    "commit lock; retry against the new head"
                )
            shutil.rmtree(os.path.join(self._lineage, f"commit={commit}"), ignore_errors=True)
            yield commit

    @contextmanager
    def _commit_lock(self):
        """A kernel ``flock`` on ``writer-mutex.lock`` for the whole commit: a
        second writer (also another open of the file in this process) fails
        fast, and a killed writer's lock dies with it. Never unlinked: a
        holder of an unlinked file would no longer exclude the next writer."""
        import fcntl

        fd = os.open(os.path.join(self.path, "writer-mutex.lock"), os.O_CREAT | os.O_WRONLY)
        try:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                raise RuntimeError(
                    f"concurrent writer holds the lock of {self.path}; the store is single-writer"
                ) from None
            yield
        finally:
            os.close(fd)

    def _write_data(self, commit: int, rows: DataFrame) -> str:
        """Write bucketed ``rows`` to the commit's data dir and return it,
        relative to the store.

        One ``bucket=K`` subdirectory per bucket, rows sorted by graph:
        point lookups (:meth:`graphs`) and the next merge's keep-side read
        prune at the FILE level, not just via a row filter — the
        partitioned-table layout the Iceberg mapping prescribes
        (``bucket(graph, N)`` partition transform).

        mode=overwrite: the commit id is derived from manifests only, so a
        run killed after this write but before the manifest write leaves
        an orphan ``data/cNNNNNNNN`` dir; the replayed commit computes the
        same id and must clobber the orphan (the manifest written last is
        what makes a commit visible — an interrupted commit is invisible
        and replay converges, load.clj:72-87 idempotence kept)."""
        data_dir = f"data/c{commit:08d}"
        rows.repartition("bucket").sortWithinPartitions("bucket", "graph").write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(os.path.join(self.path, data_dir))
        return data_dir

    def _write_manifest(
        self, commit: int, buckets: dict, dictionary_version: int | None, **fields
    ) -> dict:
        """Publish ``commit``: write its manifest (bucket → data dir, the
        layout, ``fields`` and the dictionary graph's content version, if
        any) and return it. The manifest is written to a temp file and
        renamed into place, so a writer killed mid-write leaves no
        truncated manifest for :meth:`last_commit` to list."""
        meta = {
            "commit": commit,
            "buckets": buckets,
            "n_buckets": self.n_buckets,
            "wall_ts": time.time(),
            **fields,
        }
        if dictionary_version is not None:
            meta["dictionary_version"] = dictionary_version
        path = self._manifest_path(commit)
        with open(path + ".tmp", "w") as f:
            json.dump(meta, f)
        os.replace(path + ".tmp", path)
        return meta

    # -- maintenance ---------------------------------------------------------
    def compact(self) -> dict:
        """Rewrite every live bucket into one fresh data dir — Iceberg's
        ``rewrite_data_files`` analog. After many incremental merges the
        manifest points buckets at many commit dirs, and old dirs carry
        dead rows for graphs replaced later; a compaction commit rewrites
        the CURRENT rows once (one bucket-partitioned shuffle, same layout
        the merge path uses) and publishes a manifest where all buckets
        point at the new dir. Content is unchanged, so no lineage rows are
        written and ``diff(last, compacted)`` is empty; older snapshots
        stay readable until :meth:`expire_snapshots`.

        The reference never compacts (Jena TDB2 manages its own B-trees,
        ``database/instance.clj``); on a lakehouse this is the operation
        that keeps read amplification flat as commit count grows."""
        last = self.last_commit()
        if last is None:
            raise ValueError("nothing to compact: store has no commits")
        with self._locked_commit(last) as commit:
            prev = self._read_manifest(last)
            data_dir = self._write_data(commit, self._read_segments(prev))
            return self._write_manifest(
                commit,
                {str(b): data_dir for b in range(self.n_buckets)},
                prev.get("dictionary_version"),
                compaction_of=last,
            )

    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Drop all but the newest ``keep_last`` manifests and delete data
        dirs no retained manifest references — Iceberg's
        ``expire_snapshots`` analog. Time travel to expired commits stops
        working (that is the point: bounded storage); lineage history is
        kept, only snapshot data is reclaimed. Returns removed data dirs.

        Manifests go first, data dirs second: a crash at any point leaves
        every listed manifest readable in full, at worst with orphan dirs,
        which the next expiry reclaims."""
        assert keep_last >= 1, "must retain at least the latest snapshot"
        commits = self._commits()
        drop, keep = commits[:-keep_last], commits[-keep_last:]
        # a merge landing after the listing above would add a manifest this
        # expiry did not account for, whose data dir must not be reclaimed
        with self._locked_commit(commits[-1] if commits else None):
            live_dirs = {
                d for c in keep for d in self._read_manifest(c)["buckets"].values()
            }
            for c in drop:
                os.remove(self._manifest_path(c))
            removed = []
            data_root = os.path.join(self.path, "data")
            for d in sorted(os.listdir(data_root) if os.path.exists(data_root) else []):
                rel = os.path.join("data", d)
                if rel not in live_dirs:
                    shutil.rmtree(os.path.join(self.path, rel), ignore_errors=True)
                    removed.append(rel)
            return removed

    # -- per-partition metrics ----------------------------------------------
    def metrics(self) -> DataFrame:
        """(commit, bucket, n_rows, n_graphs): the rows and graphs each
        commit wrote per bucket — the north rule's 'every partition writes
        row-count metrics'. Derived on read from each commit's own
        immutable ``data/cNNNNNNNN`` dir, so a metric can never disagree
        with the data; an expired snapshot's metrics go with its data dir.
        Commit latencies live in the manifest's ``timings``."""
        last = self.last_commit()
        data = os.path.join(self.path, "data")
        paths = [
            path
            for d in (sorted(os.listdir(data)) if os.path.isdir(data) else [])
            # a dir past the last commit is an interrupted commit's orphan
            if last is not None and d.startswith("c") and int(d[1:]) <= last
            for b in range(self.n_buckets)
            if os.path.isdir(path := os.path.join(data, d, f"bucket={b}"))
        ]
        if not paths:
            return self.spark.createDataFrame(
                [], "commit int, bucket bigint, n_rows bigint, n_graphs bigint"
            )
        written = self._bucket(self.spark.read.schema(TRIPLE_SCHEMA).parquet(*paths))
        commit = F.regexp_extract(F.input_file_name(), r"/c(\d+)/bucket=", 1).cast("int")
        return written.groupBy(commit.alias("commit"), "bucket").agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("graph").alias("n_graphs"),
        )

    # -- lineage / resume ---------------------------------------------------
    def lineage(self) -> DataFrame:
        """(graph, n_triples, action, version, commit): one row per graph
        each commit published or unpublished. The explicit schema reads
        the directory without a schema-merge job; commits written before
        ``version`` existed read it as null."""
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self._lineage)

    def dictionary_version(self) -> int | None:
        """The content version the current snapshot's dictionary graph was
        published with (see :meth:`merge`); None when the store holds no
        such graph or it came without a version."""
        last = self.last_commit()
        return None if last is None else self._read_manifest(last).get("dictionary_version")

    def diff(self, commit_a: int, commit_b: int) -> DataFrame:
        """Build-to-build regression diff: (graph, n_added, n_removed)
        for every graph whose triple content differs between two commits
        — the event-recorder comparison harness
        (``sink/event_recorder.clj:25-62``;
        ``variation_transformer_test.clj:196-206`` ``diff-records``)
        applied store-side via ``model.model_diff`` (exceptAll in both
        directions, counted per graph).

        Scale note: each direction is one exceptAll shuffle over the two
        snapshots; on a lake-scale store, prune first by comparing
        per-bucket manifest file lists (unchanged buckets are byte-equal
        segments and can be skipped) before diffing row-level."""
        from ..operators.model import model_diff

        a = self.triples(commit=commit_a)
        b = self.triples(commit=commit_b)
        added = model_diff(b, a).groupBy("graph").agg(F.count("*").alias("n_added"))
        removed = model_diff(a, b).groupBy("graph").agg(F.count("*").alias("n_removed"))
        zero = F.lit(0).cast("long")
        return added.join(removed, "graph", "full_outer").select(
            "graph",
            F.coalesce("n_added", zero).alias("n_added"),
            F.coalesce("n_removed", zero).alias("n_removed"),
        )

    def processed_versions(self) -> DataFrame:
        """(graph, version) for every source version a visible commit
        processed a graph at (publish or unpublish); a graph's highest
        version here is its incremental-ingest watermark. Not aggregated,
        so a consumer joins it without a shuffle. ``version`` is null for
        graphs merged without a ``per_graph`` version (callers must treat
        null as unknown and reprocess; the whole-graph MERGE makes that
        safe)."""
        last = self.last_commit()
        if last is None:
            return self.spark.createDataFrame([], "graph string, version bigint")
        return self.lineage().where(F.col("commit") <= last).select("graph", "version")
