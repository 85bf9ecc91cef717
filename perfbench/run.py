"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_incremental --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the workload's inputs from
``--seed``, sets up, runs the workload's closed loop for ``--seconds``,
checks the outputs, and prints one JSON object as the last stdout line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones
(see ``perfbench/README.md``). A line above it carries the workload's
named end-to-end metrics and the run's provenance.

Everything the run writes goes under ``.perfbench_work/`` in the
repository root.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
#: the end-to-end metrics of the last output line (BENCHMARK.json)
END_TO_END = ("setup_s", "wall_s")
DRIVER_MEM = "3g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def source_digest() -> str:
    """sha256 over the program's and the benchmark's Python sources: the
    provenance of checkouts that are not git repositories, and the key of
    cached base state."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for top in ("genegraph_spark", "perfbench"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    for path in sorted(paths):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def configure_env(work: str, cores: int) -> None:
    """Host-fitting settings, pinned from the benchmark side: one Spark
    core per host core, a driver heap well below host RAM, Python workers
    that can import the program, and every scratch file in the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark_local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(work: str, cores: int, trace: bool):
    from genegraph_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run(args: argparse.Namespace) -> dict:
    from perfbench import layers
    from perfbench.stats import failed_frac
    from perfbench.trace import Py4jCounter, Tracer, install_wrappers, read_peak_rss_mb
    from perfbench.workloads import WORKLOADS

    cores = os.cpu_count() or 1
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work, cores)
    prov = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": cores, "loadavg_before": os.getloadavg(),
            "steal_s_before": cpu_steal_s(),
            "git_commit": git_commit(), "source_sha256": source_digest(),
            "python": platform.python_version()}

    # one-off state that is the same for every seed is built in a session
    # of its own, so it stays out of setup_s and the measured session
    # starts equally cold whether or not this run built it
    wl_cls = WORKLOADS[args.workload]
    t = time.perf_counter()
    base_built = wl_cls(None, work, args.seed, cores, prov["source_sha256"]).base_stale()
    if base_built:
        spark = start_spark(work, cores, False)
        try:
            wl_cls(spark, work, args.seed, cores, prov["source_sha256"]).build_base()
        finally:
            stop_spark(spark)
    base_s = time.perf_counter() - t

    t_setup = time.perf_counter()
    spark = start_spark(work, cores, bool(args.trace))
    try:
        session_s = time.perf_counter() - t_setup
        prov["spark"] = spark.version
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

        wl = wl_cls(spark, work, args.seed, cores, prov["source_sha256"])
        prep = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.prepare(rep)
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.build_state()
        state_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup()
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(prep) + state_s + warm_s

        tracer = Tracer() if args.trace else None
        counter = Py4jCounter(spark, tracer) if tracer else None
        ops, failed, traced_ops = [], 0, []
        t_start = time.perf_counter()
        deadline = t_start + args.seconds
        i = 0
        while True:
            # in a traced run every other operation is traced, so the same
            # run gives the tracing overhead: traced minus untraced wall.
            # Two units at least, so that every leaf runs both ways
            traced = tracer is not None and (i // wl.unit + i % wl.unit) % 2 == 1
            restore = install_wrappers(tracer) if traced else None
            try:
                if traced:
                    with tracer.span("op", index=i) as sp:
                        rec = wl.op(i, tracer)
                    rec["span"] = sp
                    traced_ops.append(rec)
                else:
                    rec = wl.op(i, None)
                rec["i"], rec["traced"] = i, traced
                ops.append(rec)
            except Exception:
                failed += 1
                traceback.print_exc(file=sys.stderr)
            finally:
                if restore:
                    restore()
            i += 1
            whole = i % wl.unit == 0
            enough = not tracer or i >= 2 * wl.unit
            if wl.done(i) or (time.perf_counter() >= deadline and whole and enough):
                break
        window_s = time.perf_counter() - t_start
        if counter:
            counter.close()

        wrong = wl.check(ops)
        peak_rss = read_peak_rss_mb([os.getpid(), jvm_pid])
        if tracer:
            layer_metrics = layers.per_layer(spark, wl, tracer, ops, traced_ops, counter)
    finally:
        stop_spark(spark)
    if tracer:
        layer_metrics.update(layers.event_log_metrics(os.path.join(work, "eventlog"), wl,
                                                      tracer, traced_ops, cores))
    prov["loadavg_after"] = os.getloadavg()
    prov["steal_s_after"] = cpu_steal_s()

    # raised operations are not in ops, so the two counts are disjoint
    attempted, bad = i, failed + len(wrong)
    named = {"setup_s": (setup_s, "s", SETUP_REPS), "wall_s": (wl.wall(ops), "s", len(ops)),
             "failed_frac": (failed_frac(attempted, bad), "frac", attempted),
             "peak_rss_mb": (peak_rss, "MB", 1)}
    named.update(wl.e2e([o for o in ops if not o["traced"]] or ops))
    detail = {
        "provenance": prov,
        "metrics": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in named.items()},
        "setup": {"session_s": session_s, "prepare_s": prep, "state_s": state_s, "warmup_s": warm_s,
                  "base_built": base_built, "base_s": base_s},
        "window_s": window_s,
        "ops": len(ops),
        "wrong_ops": sorted(wrong),
        "check": wl.detail,
    }
    print(json.dumps(detail))
    if tracer:
        metrics = {k: {"value": layer_metrics[k][0], "unit": u} for k, u in layers.METRICS}
    else:
        metrics = {k: {"value": named[k][0], "unit": named[k][1]} for k in END_TO_END}
    return {"correct": bad == 0, "attempted": attempted, "failed": bad, "metrics": metrics}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    missing = [p for p in ("genegraph_spark/__init__.py", "__spark_entry__.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main(sys.argv[1:]))
