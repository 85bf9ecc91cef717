"""Snapshot export row set (source/snapshot/core.clj analog)."""

from __future__ import annotations


class TestSnapshotExport:
    """plans/snapshot_export — latest-versions (ga4gh.clj:179-200,
    variation_descriptor.clj:20-39)."""

    def _store(self, spark, tmp_path):
        from genegraph_spark.sinks.snapshots import SnapshotStore

        store = SnapshotStore(spark, str(tmp_path / "snapstore"))
        rows = [
            # (is_version_of, version, label, deleted)
            ("urn:v1", "2020-01-01", "v1 r1", False),
            ("urn:v1", "2020-06-01", "v1 r2", False),
            ("urn:v1", "2021-01-01", "v1 r3", False),
            ("urn:v2", "2020-03-01", "v2 r1", False),
            ("urn:v2", "2020-09-01", "v2 gone", True),   # deleted latest
            ("urn:v3", "2021-05-01", "v3 r1", False),
        ]
        docs = spark.createDataFrame(
            rows, "is_version_of string, version string, label string, deleted boolean"
        )
        store.write("variation", docs, snapshot=0)
        return store

    def test_latest_versions_asof_and_deleted(self, spark, tmp_path):
        from genegraph_spark.plans import snapshot_export as SE

        store = self._store(spark, tmp_path)
        docs = store.read("variation")
        # no cutoff: v1 r3 + v3; v2's latest is deleted → dropped
        out = {r.is_version_of: r.label for r in SE.latest_versions(docs).collect()}
        assert out == {"urn:v1": "v1 r3", "urn:v3": "v3 r1"}
        # as-of 2020-07: v1 r2; v2 r1 (deletion is later); v3 not yet
        out = {
            r.is_version_of: r.label
            for r in SE.latest_versions(docs, until="2020-07-01").collect()
        }
        assert out == {"urn:v1": "v1 r2", "urn:v2": "v2 r1"}
