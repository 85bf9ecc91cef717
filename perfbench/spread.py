"""Run the benchmark over several seeds and report each end-to-end
metric's quartile spread: (Q3 - Q1) / median, quartiles as
``statistics.quantiles(values, n=4)`` gives them.

    python3 perfbench/spread.py --workload kg_incremental --seeds 1-10

Run from the repository root. Prints one line per run (elapsed wall
time, correctness, metrics) and then the median and spread per metric,
against each metric's bound in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import quartile_spread  # noqa: E402


def seed_list(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in spec.split(",")]


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in seed_list(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.time()
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        elapsed = time.time() - t0
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode} after {elapsed:.1f}s\n{out.stderr[-2000:]}")
            return 1
        res = json.loads(lines[-1])
        ms = {k: v["value"] for k, v in res["metrics"].items()}
        for k, v in ms.items():
            values.setdefault(k, []).append(v)
        print(json.dumps({"seed": seed, "elapsed_s": round(elapsed, 1), "correct": res["correct"],
                          "attempted": res["attempted"], "failed": res["failed"],
                          "metrics": {k: round(v, 4) for k, v in ms.items()}}), flush=True)
    for k, vs in values.items():
        med, spread = statistics.median(vs), quartile_spread(vs)
        b = bounds.get(k)
        flag = "" if b is None else ("ok" if spread < b / 3 else ("within bound" if spread <= b else "OVER"))
        print(f"{k}: median {med:.4f} spread {spread:.4f} bound {b} {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
