"""Spans, py4j call counts and offline Spark event-log attribution.

Spans are recorded by the benchmark's own wrappers around the program's
public functions (see :func:`install_wrappers`), kept in memory, and
joined after the run with the Spark event log: each job belongs to the
innermost span open when it was submitted, and each stage belongs to a
layer by the operator names in its RDD scopes.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    depth: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; times are epoch seconds so they line up
    with the event log's millisecond timestamps."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), parent=parent, depth=len(self._stack), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def current(self) -> Span | None:
        return self.spans[self._stack[-1]] if self._stack else None


# -- wrappers around the program's public functions -------------------------

def _count_exchanges(plan_str: str) -> int:
    return sum(1 for ln in plan_str.splitlines() if "Exchange " in ln and "ReusedExchange" not in ln)


def plan_df(tracer: Tracer, df, name: str) -> None:
    """Time physical planning of ``df`` (``executedPlan``) as a span and
    record its Exchange count."""
    with tracer.span(name) as sp:
        plan = df._jdf.queryExecution().executedPlan().toString()
    sp.attrs["exchanges"] = _count_exchanges(plan)


def install_wrappers(tracer: Tracer):
    """Wrap ``plans.pipeline.construct_kg`` / ``run_to_store`` and
    ``NamedGraphStore.merge`` / ``graphs`` so each call records a span.
    Returns a function that restores the originals."""
    from genegraph_spark.plans import pipeline
    from genegraph_spark.sinks.named_graph import NamedGraphStore

    orig = {
        "construct_kg": pipeline.construct_kg,
        "run_to_store": pipeline.run_to_store,
        "merge": NamedGraphStore.merge,
        "graphs": NamedGraphStore.graphs,
    }

    def construct_kg(*a, **kw):
        with tracer.span("pipeline.construct_kg"):
            res = orig["construct_kg"](*a, **kw)
        plan_df(tracer, res.triples, "pipeline.plan")
        return res

    def run_to_store(*a, **kw):
        with tracer.span("pipeline.run_to_store"):
            return orig["run_to_store"](*a, **kw)

    def merge(self, *a, **kw):
        with tracer.span("store.merge") as sp:
            meta = orig["merge"](self, *a, **kw)
        sp.attrs.update(store_path=self.path, commit=meta["commit"], timings=meta.get("timings", {}),
                        buckets=meta["buckets"])
        return meta

    def graphs(self, *a, **kw):
        with tracer.span("store.graphs"):
            return orig["graphs"](self, *a, **kw)

    pipeline.construct_kg = construct_kg
    pipeline.run_to_store = run_to_store
    NamedGraphStore.merge = merge
    NamedGraphStore.graphs = graphs

    def restore():
        pipeline.construct_kg = orig["construct_kg"]
        pipeline.run_to_store = orig["run_to_store"]
        NamedGraphStore.merge = orig["merge"]
        NamedGraphStore.graphs = orig["graphs"]

    return restore


class Py4jCounter:
    """Counts py4j round trips made while a span is open, by wrapping the
    gateway client's ``send_command``."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.calls = 0
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

        def send_command(*a, **kw):
            if tracer.current() is not None:
                self.calls += 1
            return self._orig(*a, **kw)

        self._client.send_command = send_command

    def close(self) -> None:
        self._client.send_command = self._orig


# -- Spark event log -------------------------------------------------------

@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write: int
    shuffle_read: int
    spill: int
    mapper_rows: int   # rows returned by MapInPandas plan nodes


@dataclass
class Stage:
    id: int
    scopes: list[str]
    tasks: list[Task] = field(default_factory=list)

    @property
    def layer(self) -> str:
        return stage_layer(self.scopes)


@dataclass
class Job:
    id: int
    submit: float
    stage_ids: list[int]


def stage_layer(scopes: list[str]) -> str:
    """Layer of a stage from its RDD scope (operator) names: a stage that
    runs a pandas map is the mapper; one that runs a write command is the
    store; anything else is plain Spark."""
    names = " ".join(scopes)
    if "MapInPandas" in names or "MapInArrow" in names:
        return "mapper"
    if "Write" in names or "InsertInto" in names:
        return "store"
    return "spark"


def parse_event_log(path: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Read a JSON-lines Spark event log into jobs and stages with their
    tasks. Only the fields the metrics need are kept."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    # accumulator ids of the "number of output rows" metric of every
    # MapInPandas plan node, from the SQL execution (and AQE re-plan) events
    mapper_rows_acc: set[int] = set()

    def plan_nodes(node: dict):
        yield node
        for child in node.get("children", []):
            yield from plan_nodes(child)

    def stage_of(info: dict) -> Stage:
        sid = info["Stage ID"]
        st = stages.get(sid)
        if st is None:
            scopes = []
            for rdd in info.get("RDD Info", []):
                sc = rdd.get("Scope")
                if sc:
                    try:
                        scopes.append(json.loads(sc).get("name", ""))
                    except ValueError:
                        pass
            st = stages[sid] = Stage(sid, scopes)
        return st

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if "sparkPlanInfo" in ev:
                for node in plan_nodes(ev["sparkPlanInfo"]):
                    if node.get("nodeName") == "MapInPandas":
                        mapper_rows_acc.update(m["accumulatorId"] for m in node.get("metrics", [])
                                               if m.get("name") == "number of output rows")
            elif kind == "SparkListenerJobStart":
                for info in ev.get("Stage Infos", []):
                    stage_of(info)
                jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"] / 1000.0,
                                         list(ev.get("Stage IDs", [])))
            elif kind == "SparkListenerTaskEnd":
                info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"], []))
                st.tasks.append(Task(
                    stage=ev["Stage ID"],
                    launch=info.get("Launch Time", 0) / 1000.0,
                    finish=info.get("Finish Time", 0) / 1000.0,
                    run_s=m.get("Executor Run Time", 0) / 1000.0,
                    cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                    gc_s=m.get("JVM GC Time", 0) / 1000.0,
                    shuffle_write=sw.get("Shuffle Bytes Written", 0),
                    shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    mapper_rows=sum(int(a.get("Update", 0)) for a in info.get("Accumulables", [])
                                    if a.get("ID") in mapper_rows_acc),
                ))
    return jobs, stages


def find_event_log(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    return files[0]


def attribute_jobs(jobs: dict[int, Job], spans: list[Span]) -> dict[int, int | None]:
    """Map each job id to the index of the innermost span open at its
    submission (the deepest, then the latest-started), or None."""
    out: dict[int, int | None] = {}
    for jid, job in jobs.items():
        best = None
        for i, sp in enumerate(spans):
            if sp.start <= job.submit <= sp.end:
                if best is None or (sp.depth, sp.start) > (spans[best].depth, spans[best].start):
                    best = i
        out[jid] = best
    return out


def busy_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_metrics(jobs: dict[int, Job], stages: dict[int, Stage], lo: float, hi: float,
                  cores: int) -> dict[str, float]:
    """Whole-window Spark metrics for jobs submitted in [lo, hi]."""
    in_win = [j for j in jobs.values() if lo <= j.submit <= hi]
    sids = {s for j in in_win for s in j.stage_ids if s in stages and stages[s].tasks}
    tasks = [t for s in sids for t in stages[s].tasks]
    wall = hi - lo
    task_s = sum(t.run_s for t in tasks)
    skew = 1.0
    if sids:
        slowest = max(sids, key=lambda s: max(t.finish for t in stages[s].tasks)
                      - min(t.launch for t in stages[s].tasks))
        times = [t.run_s for t in stages[slowest].tasks]
        med = statistics.median(times)
        skew = max(times) / med if med > 0 else 1.0
    busy = busy_seconds([(t.launch, t.finish) for t in tasks], lo, hi)
    return {
        "spark.jobs": len(in_win),
        "spark.stages": len(sids),
        "spark.tasks": len(tasks),
        "spark.task_s": task_s,
        "spark.cpu_s": sum(t.cpu_s for t in tasks),
        "spark.gc_s": sum(t.gc_s for t in tasks),
        "spark.shuffle_write_mb": sum(t.shuffle_write for t in tasks) / MB,
        "spark.shuffle_read_mb": sum(t.shuffle_read for t in tasks) / MB,
        "spark.spill_mb": sum(t.spill for t in tasks) / MB,
        "spark.skew_max": skew,
        "spark.busy_frac": task_s / (wall * cores) if wall > 0 else 0.0,
        "spark.driver_gap_s": wall - busy,
    }


def layer_stages(jobs: dict[int, Job], stages: dict[int, Stage], lo: float, hi: float,
                 layer: str) -> list[Stage]:
    sids = {s for j in jobs.values() if lo <= j.submit <= hi for s in j.stage_ids}
    return [stages[s] for s in sorted(sids) if s in stages and stages[s].tasks
            and stages[s].layer == layer]


def read_peak_rss_mb(pids: list[int]) -> float:
    """Sum of the high-water resident set sizes (``VmHWM``) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
