"""The commit primitive under the snapshot tables and the MinHash and IVF
indexes: a writer that dies anywhere in a commit leaves the artifact
answering as before, and rebuilds reclaim what they supersede only after
``commit.RETAIN_S``. Each death is a raise in-process: no step of a
commit touches a file in a ``finally``, so a raise leaves the files a
kill would."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from genegraph_spark.operators.dedup import MinhashIndex
from genegraph_spark.operators.similarity import IvfIndex
from genegraph_spark.sinks.snapshots import SnapshotStore


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "the quick brown fox jumps over the lazy cat"),
        (4, "completely different words entirely here now"),
        (5, "the quick brown fox jumps over the lazy dog"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.cache().count()
    return df


def kill_after_parquet_writes(m, n):
    """The writer dies right after its ``n``-th parquet write lands."""
    from pyspark.sql.readwriter import DataFrameWriter

    write = DataFrameWriter.parquet
    landed = []

    def parquet(self, *args, **kwargs):
        write(self, *args, **kwargs)
        landed.append(args[0])
        if len(landed) == n:
            raise OSError("writer killed")

    m.setattr(DataFrameWriter, "parquet", parquet)


def test_minhash_reopens_after_its_commit_is_cut_midway(spark, docs, tmp_path, monkeypatch):
    """An append killed halfway through writing its metadata leaves the
    index reopening at the previous commit, and the replayed append
    lands."""
    path = str(tmp_path / "mh")
    ix = MinhashIndex(spark, path).build(docs.where("doc_id = 4"))

    def cut_dump(obj, f):
        text = json.dumps(obj)
        f.write(text[: len(text) // 2])
        raise OSError("writer killed")

    with monkeypatch.context() as m:
        m.setattr(json, "dump", cut_dump)
        with pytest.raises(OSError, match="writer killed"):
            ix.append(docs.where("doc_id = 1"))
    reopened = MinhashIndex(spark, path)
    assert reopened.query(docs.where("doc_id = 2")).count() == 0
    reopened.append(docs.where("doc_id = 1"))
    got = {(r.id_a, r.id_b) for r in reopened.query(docs.where("doc_id = 2"), threshold=0.9).collect()}
    assert got == {(2, 1)}


def test_minhash_rebuild_killed_after_its_first_write_keeps_the_old_index(
    spark, docs, tmp_path, monkeypatch
):
    path = str(tmp_path / "mh")
    MinhashIndex(spark, path).build(docs.where("doc_id = 1"))
    MinhashIndex(spark, path).append(docs.where("doc_id = 3"))
    MinhashIndex(spark, path).append(docs.where("doc_id = 4"))
    probe = docs.where("doc_id IN (2, 5)")

    def answer():
        return sorted(tuple(r) for r in MinhashIndex(spark, path).query(probe, threshold=0.5).collect())

    before = answer()
    assert {(a, b) for a, b, _, _ in before} >= {(2, 1), (5, 1), (2, 3)}
    with monkeypatch.context() as m:
        kill_after_parquet_writes(m, 1)
        with pytest.raises(OSError, match="writer killed"):
            MinhashIndex(spark, path).build(docs.where("doc_id = 4"))
    assert answer() == before


def test_rebuilds_reclaim_superseded_builds_after_retain_s(spark, docs, tmp_path, monkeypatch):
    """A rebuild leaves the build it supersedes readable, also to a reader
    that opened it before; a rebuild later than ``RETAIN_S`` after that
    supersession removes its batches."""
    from genegraph_spark.sinks import commit

    path = str(tmp_path / "mh")
    old = MinhashIndex(spark, path).build(docs.where("doc_id = 1"))
    planned = old.query(docs.where("doc_id = 2"), threshold=0.9)
    MinhashIndex(spark, path).build(docs.where("doc_id = 4"))
    assert {(r.id_a, r.id_b) for r in planned.collect()} == {(2, 1)}
    assert sorted(os.listdir(os.path.join(path, "bands"))) == ["batch=0", "batch=1"]

    monkeypatch.setattr(commit, "RETAIN_S", 0)
    MinhashIndex(spark, path).build(docs.where("doc_id = 3"))
    for root in ("bands", "sigs"):
        assert os.listdir(os.path.join(path, root)) == ["batch=2"]
    got = {(r.id_a, r.id_b) for r in MinhashIndex(spark, path).query(docs.where("doc_id = 2")).collect()}
    assert got == {(2, 3)}


def test_ivf_rebuild_killed_between_corpus_and_centroids_keeps_the_old_index(
    spark, sf_dir, tmp_path, monkeypatch
):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("query_id"), "embedding")
    path = str(tmp_path / "ivf")
    IvfIndex.build(emb, path)

    def answer():
        return sorted(tuple(r) for r in IvfIndex(spark, path).topk(q, k=5, n_probe=2).collect())

    before = answer()
    with monkeypatch.context() as m:
        kill_after_parquet_writes(m, 1)
        with pytest.raises(OSError, match="writer killed"):
            IvfIndex.build(emb.where("vec_id % 2 = 1"), path)
    assert answer() == before


VERSIONED = "is_version_of string, version int, doc string"


def test_snapshot_write_killed_after_its_data_lists_no_snapshot(spark, tmp_path, monkeypatch):
    store = SnapshotStore(spark, str(tmp_path / "snaps"))
    v1 = spark.createDataFrame([("e1", 1, "a"), ("e2", 1, "b")], VERSIONED)
    v2 = spark.createDataFrame([("e1", 2, "a2")], VERSIONED)
    assert store.write("trait", v1) == 0
    with monkeypatch.context() as m:
        kill_after_parquet_writes(m, 1)
        with pytest.raises(OSError, match="writer killed"):
            store.write("trait", v2)
    assert {(r.doc, r.snapshot) for r in store.read("trait").collect()} == {("a", 0), ("b", 0)}
    assert store.write("trait", v2) == 1
    assert {(r.doc, r.snapshot) for r in store.read("trait").collect()} == {
        ("a", 0), ("b", 0), ("a2", 1)
    }


def test_snapshot_table_written_without_manifests_reads_unchanged(spark, tmp_path):
    """A table of bare ``snapshot=N`` dirs, the layout before manifests,
    reads as before, and the next write takes the next id."""
    base = tmp_path / "snaps"
    spark.createDataFrame([("e1", 1, "a"), ("e2", 1, "b")], VERSIONED).write.parquet(
        str(base / "trait" / "snapshot=0")
    )
    spark.createDataFrame([("e1", 2, "a2")], VERSIONED).write.parquet(str(base / "trait" / "snapshot=1"))
    store = SnapshotStore(spark, str(base))
    rows = store.read("trait")
    assert rows.columns == ["is_version_of", "version", "doc", "snapshot"]
    assert {(r.doc, r.snapshot) for r in rows.collect()} == {("a", 0), ("b", 0), ("a2", 1)}
    assert store.write("trait", spark.createDataFrame([("e2", 2, "b2")], VERSIONED)) == 2
    latest = {(r.is_version_of, r.doc) for r in store.latest_as_of("trait", 2).collect()}
    assert latest == {("e1", "a2"), ("e2", "b2")}


def test_minhash_query_reads_one_commit_while_a_rebuild_lands(spark, docs, tmp_path, monkeypatch):
    """A rebuild that lands while a query runs changes nothing it reads:
    the indexed bands and signatures both come from the head it opened."""
    from genegraph_spark.operators import dedup

    path = str(tmp_path / "mh")
    MinhashIndex(spark, path).build(docs.where("doc_id = 1"))
    candidates = dedup.lsh_candidates

    def rebuild_then_candidates(*args, **kwargs):
        MinhashIndex(spark, path).build(docs.where("doc_id = 4"))
        return candidates(*args, **kwargs)

    monkeypatch.setattr(dedup, "lsh_candidates", rebuild_then_candidates)
    got = {(r.id_a, r.id_b) for r in MinhashIndex(spark, path).query(docs.where("doc_id = 2")).collect()}
    assert got == {(2, 1)}
