#!/usr/bin/env python
"""Run the full pytest suite as N concurrent file-level shards.

pytest-xdist is not installed in this container, so suite-level
parallelism comes from plain process fan-out: test FILES are split into
N shards balanced by their last recorded wall time (falling back to
file size), and each shard runs its own pytest process with a smaller
Spark session (``SPARK_GRAFT_CPUS`` = the cores this process may use / N,
at least 2) so the shards share the box instead of oversubscribing it.
Shards never split a file, so every module/session fixture behaves
exactly as in a serial run.

Usage:
    python scripts/run_tests_sharded.py            # 4 shards, all tests
    python scripts/run_tests_sharded.py -n 3 -- -m "not slow"

Exit code is non-zero if any shard fails. Per-shard tails and a total
pass/fail rollup print at the end; timings are recorded to
``.shard_times.json`` to balance the next run.
"""
from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTS = os.path.join(REPO, "tests")
TIMES_PATH = os.path.join(REPO, ".shard_times.json")


# Files too heavy to schedule whole: split into class-level units so no
# single shard inherits the entire ~15-min chain file. Module/session
# fixtures re-run per unit (cheap: file reads). Unit = (name, pytest args).
SPLITS = {
    "test_gdm_chain.py": [
        ("test_gdm_chain.py::corpus",
         ["tests/test_gdm_chain.py::TestGdmCorpusChain"]),
        ("test_gdm_chain.py::fullchain",
         ["tests/test_gdm_chain.py::TestFullGdmChain"]),
        ("test_gdm_chain.py::rest",
         ["tests/test_gdm_chain.py",
          "--deselect=tests/test_gdm_chain.py::TestGdmCorpusChain",
          "--deselect=tests/test_gdm_chain.py::TestFullGdmChain"]),
    ],
}


def shard_files(n: int) -> list[list[tuple[str, list[str]]]]:
    files = sorted(
        f for f in os.listdir(TESTS) if f.startswith("test_") and f.endswith(".py")
    )
    units: list[tuple[str, list[str]]] = []
    for f in files:
        if f in SPLITS:
            units.extend(SPLITS[f])
        else:
            units.append((f, [os.path.join("tests", f)]))
    try:
        with open(TIMES_PATH) as fh:
            times = json.load(fh)
    except (OSError, ValueError):
        times = {}

    # LPT greedy: heaviest unit first onto the lightest shard
    def weight(u: tuple[str, list[str]]) -> float:
        name = u[0]
        base = name.split("::")[0]
        fallback = os.path.getsize(os.path.join(TESTS, base)) / 1e4
        if "::" in name:
            fallback /= len(SPLITS[base])
        return float(times.get(name, fallback))

    shards: list[tuple[float, list]] = [(0.0, []) for _ in range(n)]
    for u in sorted(units, key=weight, reverse=True):
        i = min(range(n), key=lambda j: shards[j][0])
        w, us = shards[i]
        shards[i] = (w + weight(u), us + [u])
    return [us for _, us in shards if us]


def run_shard(i: int, units, per: int, rest: list[str], log: str, out: dict):
    """Run one shard: its units execute as SEPARATE sequential pytest
    processes. Combining units into one invocation is unsound — pytest
    narrows collection when a whole-file arg and a class-path arg name
    the same module, and one unit's ``--deselect`` flags apply to every
    other unit's selection (observed: a shard holding both
    ``test_gdm_chain.py::rest`` and ``::corpus`` silently collected 7 of
    its ~40 tests and still exited 0). One process per unit also makes
    the recorded per-unit times real instead of size-apportioned."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(per))
    passed = failed_n = rc_bad = 0
    lines = []
    with open(log, "w") as fh:
        for name, ua in units:
            cmd = [
                sys.executable, "-m", "pytest", "-q",
                "-p", "no:cacheprovider", *ua, *rest,
            ]
            fh.write(f"===== unit {name}: {' '.join(cmd)}\n")
            fh.flush()
            t0 = time.time()
            p = subprocess.run(
                cmd, cwd=REPO, env=env, stdout=fh, stderr=subprocess.STDOUT,
            )
            dt = time.time() - t0
            tail = [
                ln for ln in open(log).read().strip().splitlines() if ln
            ]
            last = tail[-1] if tail else ""
            mp = re.search(r"(\d+) passed", last)
            mf = re.search(r"(\d+) failed", last)
            ms = re.search(r"(\d+) skipped", last)
            # rc 5 = nothing collected for this unit — legitimate under
            # -m/-k filters; the TOTAL completeness check (ran vs
            # collect-only count) catches silent undercollection.
            unit_passed = int(mp.group(1)) if mp else 0
            unit_failed = int(mf.group(1)) if mf else 0
            if p.returncode not in (0, 5):
                rc_bad += 1
                lines.extend(tail[-15:])
            passed += unit_passed
            failed_n += unit_failed
            out["skipped"] = out.get("skipped", 0) + (
                int(ms.group(1)) if ms else 0
            )
            out.setdefault("times", {})[name] = dt
            lines.append(f"  {name}: rc={p.returncode} {last} ({dt:.1f}s)")
    out.update(passed=passed, failed=failed_n, bad=rc_bad, lines=lines)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", type=int, default=4, help="shard count")
    ap.add_argument("rest", nargs="*", help="extra pytest args after --")
    args = ap.parse_args()
    shards = shard_files(args.n)
    total_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    per = max(2, total_cpus // max(len(shards), 1))
    t0 = time.time()
    # Ground truth for the completeness check below: what a serial run
    # would collect with the same extra args (e.g. -m "not slow").
    collect = subprocess.run(
        [sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider",
         "--collect-only", "tests", *args.rest],
        cwd=REPO, capture_output=True, text=True,
    )
    m = re.search(
        r"(\d+)(?:/\d+)? tests? collected", collect.stdout.strip()
    ) or re.search(r"(\d+) (?:selected|deselected)", collect.stdout)
    expected = int(m.group(1)) if m else None
    import threading

    results: list[dict] = [{} for _ in shards]
    threads = []
    for i, units in enumerate(shards):
        log = os.path.join(REPO, f".shard_{i}.log")
        th = threading.Thread(
            target=run_shard, args=(i, units, per, args.rest, log, results[i])
        )
        th.start()
        threads.append(th)
    for th in threads:
        th.join()
    passed = failed_n = bad = skipped = 0
    times = {}
    for i, (units, out) in enumerate(zip(shards, results)):
        print(f"shard {i}:")
        for ln in out.get("lines", []):
            print(ln)
        passed += out.get("passed", 0)
        failed_n += out.get("failed", 0)
        bad += out.get("bad", 0)
        skipped += out.get("skipped", 0)
        times.update(out.get("times", {}))
    try:
        with open(TIMES_PATH) as fh:
            prev = json.load(fh)
    except (OSError, ValueError):
        prev = {}
    prev.update(times)
    with open(TIMES_PATH, "w") as fh:
        json.dump(prev, fh, indent=1)
    wall = time.time() - t0
    short = ""
    ran = passed + failed_n + skipped
    if expected is not None and ran != expected:
        short = (
            f"  ** INCOMPLETE: ran {ran} of {expected} collected tests **"
        )
    print(
        f"TOTAL: {passed} passed, {failed_n} failed, {bad} bad-units across "
        f"{len(shards)} shards in {wall/60:.1f} min (cpus/shard={per})"
        + short
    )
    return 1 if (failed_n or bad or short) else 0


if __name__ == "__main__":
    sys.exit(main())
