"""Tests of the benchmark's own machinery: event-log parsing, span-to-job
and stage-to-layer attribution, and the percentile / failed_frac
arithmetic. The last test drives a real traced pipeline run on a tiny
sf0.001 input.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Span,
    Tracer,
    attribute_jobs,
    busy_seconds,
    layer_stages,
    parse_event_log,
    spark_metrics,
    stage_layer,
)


# -- arithmetic ---------------------------------------------------------------

def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 90) == pytest.approx(3.7)
    assert stats.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_failed_frac_counts_failed_and_wrong_over_attempted():
    assert stats.failed_frac(10, 0) == 0.0
    assert stats.failed_frac(8, 2) == 0.25
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)
    with pytest.raises(ValueError):
        stats.failed_frac(3, 4)


def test_wrong_leaf_results_mark_their_measured_runs():
    from perfbench.workloads import LeafQueries

    wl = LeafQueries(None, "", 1, 1, "src")
    wl.oracle_fail = ["sim_topk"]
    ops = [{"i": 0, "leaf": "kg_triples"}, {"i": 2, "leaf": "sim_topk"},
           {"i": 10, "leaf": "sim_topk"}]
    assert wl.check(ops) == {2, 10}
    # each operation counts once: 3 attempted, 2 of them wrong
    assert stats.failed_frac(len(ops), len(wl.check(ops))) == pytest.approx(2 / 3)


def test_cached_base_store_is_rebuilt_for_other_sources(tmp_path):
    from perfbench.workloads import KgIncremental

    work = str(tmp_path / "kg_incremental")

    def built_by(source: str) -> None:
        cache = KgIncremental(None, work, 1, 1, source)._cache()
        os.makedirs(cache, exist_ok=True)
        with open(os.path.join(cache, "build.json"), "w") as f:
            json.dump({"source_sha256": source, "ok": True}, f)

    assert KgIncremental(None, work, 1, 1, "a").base_stale()
    built_by("a")
    assert not KgIncremental(None, work, 2, 1, "a").base_stale()
    assert KgIncremental(None, work, 1, 1, "b").base_stale()


def test_geomean_and_quartile_spread():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    vals = [float(v) for v in range(1, 11)]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == pytest.approx((q3 - q1) / med)


def test_busy_seconds_unions_and_clips():
    iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert busy_seconds(iv, 0.0, 10.0) == pytest.approx(3.0 + 1.0 + 1.0)
    assert busy_seconds([], 0.0, 1.0) == 0.0


# -- attribution --------------------------------------------------------------

def test_stage_layer_from_rdd_scope_names():
    assert stage_layer(["Scan parquet", "MapInPandas", "Exchange"]) == "mapper"
    assert stage_layer(["Execute InsertIntoHadoopFsRelationCommand", "Exchange"]) == "store"
    assert stage_layer(["WriteFiles"]) == "store"
    assert stage_layer(["HashAggregate", "Exchange"]) == "spark"


def test_jobs_go_to_the_innermost_open_span():
    spans = [
        Span("op", 0.0, 10.0, None, 0),
        Span("pipeline.run_to_store", 1.0, 8.0, 0, 1),
        Span("store.merge", 4.0, 7.0, 1, 2),
        Span("store.lookup", 8.5, 9.5, 0, 1),
    ]
    from perfbench.trace import Job

    jobs = {1: Job(1, 0.5, []), 2: Job(2, 2.0, []), 3: Job(3, 5.0, []), 4: Job(4, 9.0, []),
            5: Job(5, 11.0, [])}
    owner = attribute_jobs(jobs, spans)
    assert owner == {1: 0, 2: 1, 3: 2, 4: 3, 5: None}


def test_tracer_records_parents_and_depth():
    tr = Tracer()
    with tr.span("op"):
        with tr.span("a"):
            with tr.span("b"):
                assert tr.current().name == "b"
        with tr.span("c"):
            pass
    assert [(s.name, s.parent, s.depth) for s in tr.spans] == [
        ("op", None, 0), ("a", 0, 1), ("b", 1, 2), ("c", 0, 1)]
    assert all(s.end >= s.start for s in tr.spans)


# -- event log ----------------------------------------------------------------

def _rdd(name: str) -> dict:
    return {"RDD ID": 1, "Name": "x", "Scope": json.dumps({"id": "1", "name": name})}


def _task(stage: int, launch_ms: int, finish_ms: int, run_ms: int, rows: int) -> dict:
    acc = [{"ID": 7, "Name": "number of output rows", "Update": str(rows)},
           {"ID": 8, "Name": "number of output rows", "Update": "999"}]
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms, "Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": 1, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 1024 * 1024,
                                     "Total Records Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2 * 1024 * 1024},
        },
    }


def _write_log(path: str) -> None:
    s0 = {"Stage ID": 0, "RDD Info": [_rdd("Scan parquet"), _rdd("MapInPandas")]}
    s1 = {"Stage ID": 1, "RDD Info": [_rdd("Execute InsertIntoHadoopFsRelationCommand")]}
    plan = {"nodeName": "WriteFiles", "metrics": [], "children": [
        {"nodeName": "MapInPandas", "metrics": [
            {"name": "number of output rows", "accumulatorId": 7},
            {"name": "time to run Python workers", "accumulatorId": 9}], "children": [
            {"nodeName": "Scan parquet", "metrics": [
                {"name": "number of output rows", "accumulatorId": 8}], "children": []}]}]}
    events = [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage Infos": [s0, s1], "Stage IDs": [0, 1]},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": dict(s0, **{"Submission Time": 1000})},
        _task(0, 1000, 3000, 2000, 100),
        _task(0, 1000, 2000, 1000, 50),
        {"Event": "SparkListenerStageCompleted", "Stage Info": dict(s0, **{"Completion Time": 3000})},
        _task(1, 3000, 4000, 1000, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 4000},
    ]
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def test_parse_event_log_and_window_metrics(tmp_path):
    path = str(tmp_path / "local-1")
    _write_log(path)
    jobs, stages = parse_event_log(path)
    assert set(jobs) == {0} and jobs[0].stage_ids == [0, 1] and jobs[0].submit == 1.0
    assert stages[0].layer == "mapper" and stages[1].layer == "store"
    # only the MapInPandas node's output-row accumulator counts
    assert [t.mapper_rows for t in stages[0].tasks] == [100, 50]

    m = spark_metrics(jobs, stages, 0.0, 5.0, cores=2)
    assert m["spark.jobs"] == 1 and m["spark.stages"] == 2 and m["spark.tasks"] == 3
    assert m["spark.task_s"] == pytest.approx(4.0)
    assert m["spark.cpu_s"] == pytest.approx(4.0)
    assert m["spark.shuffle_write_mb"] == pytest.approx(6.0)
    assert m["spark.shuffle_read_mb"] == pytest.approx(3.0)
    assert m["spark.busy_frac"] == pytest.approx(4.0 / (5.0 * 2))
    # tasks cover [1, 4] of the [0, 5] window
    assert m["spark.driver_gap_s"] == pytest.approx(2.0)
    # slowest stage is stage 0: tasks of 2s and 1s, median 1.5
    assert m["spark.skew_max"] == pytest.approx(2.0 / 1.5)
    mapper = layer_stages(jobs, stages, 0.0, 5.0, "mapper")
    assert [s.id for s in mapper] == [0]
    assert layer_stages(jobs, stages, 2.0, 5.0, "mapper") == []


# -- a real traced run on sf0.001 --------------------------------------------

def test_traced_pipeline_run_attributes_mapper_stages(tmp_path):
    from perfbench import datagen, run
    from perfbench.trace import find_event_log, install_wrappers

    work = str(tmp_path / "work")
    os.makedirs(work)
    run.configure_env(work, 2)
    sf = datagen.write_tables(os.path.join(work, "sf0.001"), seed=5, sf=0.001)
    spark = run.start_spark(work, 2, trace=True)
    try:
        from genegraph_spark.plans import pipeline

        tracer = Tracer()
        restore = install_wrappers(tracer)
        try:
            with tracer.span("op"):
                res = pipeline.construct_kg(spark, sf)
                res.triples.write.format("noop").mode("overwrite").save()
        finally:
            restore()
    finally:
        run.stop_spark(spark)
    names = [s.name for s in tracer.spans]
    assert names == ["op", "pipeline.construct_kg", "pipeline.plan"]
    assert tracer.spans[2].attrs["exchanges"] >= 1

    jobs, stages = parse_event_log(find_event_log(os.path.join(work, "eventlog")))
    op = tracer.spans[0]
    owner = attribute_jobs(jobs, tracer.spans)
    in_op = [j for j in jobs.values() if op.start <= j.submit <= op.end]
    assert in_op and all(owner[j.id] is not None for j in in_op)
    mapper = layer_stages(jobs, stages, op.start, op.end, "mapper")
    assert mapper, "the page mapper stage must be attributed to the mapper layer"
    rows = sum(t.mapper_rows for s in mapper for t in s.tasks)
    n_pages = 500 + 50 + 10     # fixtures.pages_from_docs over 500 documents
    assert rows == n_pages, "the mapper returns one row per page, in one pass"
    m = spark_metrics(jobs, stages, op.start, op.end, cores=2)
    assert m["spark.tasks"] > 0 and 0 < m["spark.busy_frac"] <= 1.0
