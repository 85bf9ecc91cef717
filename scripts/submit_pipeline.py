"""Production entrypoint for ``spark-submit`` — the deployable form the
north rule names (``spark-submit --py-files genegraph_spark.zip
scripts/submit_pipeline.py ...``).

Runs the full KG construction batch against a pages table and MERGEs
into the named-graph store, with the operational modes a scheduled
pipeline needs: plain run, version-watermarked incremental feed
(``--incremental``, which is also the cheap restart: a rerun of the same
input skips every page already committed), ``--dry-run`` plan audit,
and post-run maintenance (``--compact`` / ``--expire-keep N``).

On a cluster the session comes from spark-submit's conf (master,
executors, shuffle partitions); ``get_spark`` only fills in defaults
when absent, so the same script runs on ``local[*]`` and on YARN/K8s
unchanged. Package the library with
``cd /root/repo && zip -r genegraph_spark.zip genegraph_spark``.

Usage:
    spark-submit --py-files genegraph_spark.zip scripts/submit_pipeline.py \
        --sf-dir /data/sf0.1 --store /lake/kg-store [--incremental] \
        [--dry-run] [--compact] [--expire-keep 3]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--sf-dir", required=True, help="input tables directory")
    p.add_argument("--store", required=True, help="named-graph store path")
    mode = p.add_mutually_exclusive_group()
    mode.add_argument("--incremental", action="store_true",
                      help="version-watermarked feed: process only new/updated urls "
                           "(a restart of the same input reprocesses nothing)")
    mode.add_argument("--stream-source", metavar="DIR",
                      help="streamed primary loop: drain this file-stream pages "
                           "source into the store, one commit per micro-batch "
                           "(availableNow; rerun picks up only new files)")
    p.add_argument("--checkpoint", metavar="DIR",
                   help="streaming checkpoint dir (required with --stream-source)")
    p.add_argument("--dry-run", action="store_true",
                   help="build the plan, print the would-be commit, write nothing")
    p.add_argument("--compact", action="store_true",
                   help="after the run, rewrite live buckets into one data dir")
    p.add_argument("--expire-keep", type=int, default=0, metavar="N",
                   help="after the run, keep only the newest N snapshots; a snapshot "
                        "superseded less than commit.RETAIN_S seconds ago (one hour) is "
                        "kept, so an expiry right after a commit keeps the one it superseded")
    args = p.parse_args()

    from genegraph_spark.plans.pipeline import run_to_store
    from genegraph_spark.session import get_spark

    spark = get_spark("genegraph-spark-pipeline")
    t0 = time.monotonic()
    if args.stream_source:
        if not args.checkpoint:
            p.error("--stream-source requires --checkpoint")
        from genegraph_spark.sinks.named_graph import NamedGraphStore
        from genegraph_spark.streaming.stream import stream_pages_to_store

        out = stream_pages_to_store(
            spark, args.sf_dir, args.stream_source, args.store, args.checkpoint
        )
        store = NamedGraphStore(spark, args.store)
        print(json.dumps({
            "mode": "stream",
            "outcome": out,
            "store_triples": store.triples().count(),
            "wall_s": round(time.monotonic() - t0, 1),
        }, default=str))
        return
    res, store, outcome = run_to_store(
        spark, args.sf_dir, args.store,
        dry_run=args.dry_run, incremental=args.incremental,
    )
    report: dict = {"mode": ("dry_run" if args.dry_run else
                            "incremental" if args.incremental else "full"),
                    "outcome": {k: v for k, v in outcome.items() if k != "buckets"}}
    if not args.dry_run:
        if args.compact:
            report["compaction"] = {
                k: v for k, v in store.compact().items() if k != "buckets"
            }
        if args.expire_keep > 0:
            report["expired_data_dirs"] = store.expire_snapshots(
                keep_last=args.expire_keep
            )
        report["store_triples"] = store.triples().count()
    report["wall_s"] = round(time.monotonic() - t0, 1)
    print(json.dumps(report, default=str))


if __name__ == "__main__":
    main()
