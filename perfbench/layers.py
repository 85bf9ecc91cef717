"""Per-layer metrics of a traced run.

Every value is per traced operation (the mean over traced operations)
unless its name says otherwise, so runs with different operation counts
compare. Layers the workload does not reach report 0.
"""

from __future__ import annotations

import os
import statistics

from .trace import Tracer, attribute_jobs, find_event_log, layer_stages, parse_event_log, spark_metrics
from .workloads import LEAVES

SPARK = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_s", "s"), ("spark.cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"),
    ("spark.skew_max", "ratio"), ("spark.busy_frac", "ratio"), ("spark.driver_gap_s", "s"),
]
MAPPER = [("mapper.passes", "count"), ("mapper.rows_out", "count"), ("mapper.task_s", "s"),
          ("mapper.extract_amp", "ratio")]
PIPELINE = [("pipeline.build_s", "s"), ("pipeline.plan_s", "s"), ("pipeline.exchanges", "count")]
STORE = [
    ("store.merge_s", "s"), ("store.write_s", "s"), ("store.lineage_s", "s"), ("store.other_s", "s"),
    ("store.buckets_touched", "count"), ("store.rows_incoming", "count"),
    ("store.rows_written", "count"), ("store.write_amp", "ratio"), ("store.bytes_written", "bytes"),
    ("store.lookup_s", "s"), ("store.lookup_jobs", "count"),
]
LEAF = [(f"leaf.{n}.s", "s") for n in LEAVES] + [
    ("leaf.build_s", "s"), ("leaf.plan_s", "s"), ("leaf.exec_s", "s")]
OTHER = [("py4j.calls", "count"), ("trace.overhead_s", "s")]
METRICS = SPARK + MAPPER + PIPELINE + STORE + LEAF + OTHER
UNITS = dict(METRICS)


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _spans(tracer: Tracer, name: str) -> list:
    return [s for s in tracer.spans if s.name == name]


def _dur(tracer: Tracer, name: str) -> list[float]:
    return [s.end - s.start for s in _spans(tracer, name)]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def per_layer(spark, wl, tracer: Tracer, ops: list[dict], traced_ops: list[dict],
              counter) -> dict[str, tuple[float, str]]:
    """Span-, manifest- and store-derived metrics; needs the live session
    (reads each traced commit's lineage and per-bucket metrics)."""
    from pyspark.sql import functions as F

    from genegraph_spark.sinks.named_graph import NamedGraphStore

    out: dict[str, float] = {}
    out["pipeline.build_s"] = _mean(_dur(tracer, "pipeline.construct_kg"))
    out["pipeline.plan_s"] = _mean(_dur(tracer, "pipeline.plan"))
    out["pipeline.exchanges"] = _mean([s.attrs["exchanges"] for s in _spans(tracer, "pipeline.plan")])

    merges = _spans(tracer, "store.merge")
    m_s, w_s, l_s, touched, incoming, written, nbytes = [], [], [], [], [], [], []
    for s in merges:
        commit, data_dir = s.attrs["commit"], f"data/c{s.attrs['commit']:08d}"
        t = s.attrs["timings"]
        m_s.append(s.end - s.start)
        w_s.append(t.get("write_s", 0.0))
        l_s.append(t.get("lineage_s", 0.0))
        touched.append(sum(1 for d in s.attrs["buckets"].values() if d == data_dir))
        store = NamedGraphStore(spark, s.attrs["store_path"])
        incoming.append(store.lineage().where(F.col("commit") == commit)
                        .agg(F.sum("n_triples")).collect()[0][0] or 0)
        written.append(store.metrics().where(F.col("commit") == commit)
                       .agg(F.sum("n_rows")).collect()[0][0] or 0)
        nbytes.append(_dir_bytes(os.path.join(s.attrs["store_path"], data_dir)))
    out["store.merge_s"] = _mean(m_s)
    out["store.write_s"] = _mean(w_s)
    out["store.lineage_s"] = _mean(l_s)
    out["store.other_s"] = _mean([m - w - l for m, w, l in zip(m_s, w_s, l_s)])
    out["store.buckets_touched"] = _mean(touched)
    out["store.rows_incoming"] = _mean(incoming)
    out["store.rows_written"] = _mean(written)
    out["store.write_amp"] = sum(written) / sum(incoming) if sum(incoming) else 0.0
    out["store.bytes_written"] = _mean(nbytes)
    out["store.lookup_s"] = _mean(_dur(tracer, "store.lookup"))

    leaf_ops = [o for o in traced_ops if "leaf" in o]
    for name in LEAVES:
        out[f"leaf.{name}.s"] = _median([o["wall_s"] for o in leaf_ops if o["leaf"] == name])
    for part in ("build", "plan", "exec"):
        out[f"leaf.{part}_s"] = _mean(_dur(tracer, f"leaf.{part}"))

    out["py4j.calls"] = counter.calls / len(traced_ops) if traced_ops else 0.0
    untraced = [o for o in ops if not o["traced"]]
    out["trace.overhead_s"] = wl.wall(traced_ops) - wl.wall(untraced) if untraced else 0.0
    return {k: (v, UNITS[k]) for k, v in out.items()}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def event_log_metrics(log_dir: str, wl, tracer: Tracer, traced_ops: list[dict],
                      cores: int) -> dict[str, tuple[float, str]]:
    """Spark, mapper and lookup-job metrics from the finished event log:
    each traced operation's jobs are those submitted inside its span."""
    jobs, stages = parse_event_log(find_event_log(log_dir))
    per_op: list[dict[str, float]] = []
    rows = pages = 0
    for o in traced_ops:
        sp = o["span"]
        m = spark_metrics(jobs, stages, sp.start, sp.end, cores)
        ms = layer_stages(jobs, stages, sp.start, sp.end, "mapper")
        m["mapper.passes"] = len(ms)
        m["mapper.rows_out"] = sum(t.mapper_rows for s in ms for t in s.tasks)
        m["mapper.task_s"] = sum(t.run_s for s in ms for t in s.tasks)
        if o.get("pages"):
            rows += m["mapper.rows_out"]
            pages += o["pages"]
        per_op.append(m)
    out = {k: _mean([m[k] for m in per_op]) for k in per_op[0]} if per_op else {}
    # the mapper returns one row per page it extracts, so the ideal is 1.0
    out["mapper.extract_amp"] = rows / pages if pages else 0.0

    owner = attribute_jobs(jobs, tracer.spans)
    lookups = [i for i, s in enumerate(tracer.spans) if s.name == "store.lookup"]

    def under(i: int | None, root: int) -> bool:
        while i is not None:
            if i == root:
                return True
            i = tracer.spans[i].parent
        return False

    n_jobs = sum(1 for j in jobs if any(under(owner[j], r) for r in lookups))
    out["store.lookup_jobs"] = n_jobs / len(lookups) if lookups else 0.0
    return {k: (float(v), UNITS[k]) for k, v in out.items()}
