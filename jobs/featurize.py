"""spark-submit entry point: point-in-time featurization job.

Usage:
    spark-submit --py-files aloha_spark.zip jobs/featurize.py \
        --turns <path> --state <path> --out <path> --lineage <path> \
        --spec <spec.json> [--format parquet|iceberg] \
        [--hot-key-threshold 1000000] [--salt-buckets 16] \
        [--num-buckets 256]

Resume is implicit: buckets already recorded in the lineage table are
skipped on re-run (delete the lineage path to force a full rewrite).

Config is the spec JSON — the pipeline keeps the reference's "models
are messages" property (reference README.md:25): the same job binary
serves any feature set by swapping the external spec document.

Build the zip:  cd <repo> && zip -r aloha_spark.zip aloha_spark
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--turns", required=True)
    p.add_argument("--state", required=False)
    p.add_argument("--out", required=True)
    p.add_argument("--lineage", required=True)
    p.add_argument("--spec", required=True, help="feature-spec JSON path")
    p.add_argument("--format", default="parquet")
    p.add_argument("--state-cols", default=None,
                   help="comma list; default = all non-key state columns")
    p.add_argument("--by", default="conv_id")
    p.add_argument("--on", default="ts")
    p.add_argument("--order", default="turn_idx")
    p.add_argument("--gap-seconds", type=float, default=1800.0)
    p.add_argument("--hot-key-threshold", type=int, default=None)
    p.add_argument("--salt-buckets", type=int, default=16)
    p.add_argument("--asof-tolerance", type=float, default=None,
                   help="staleness bound in seconds: state older than "
                        "this yields NULL state columns instead of "
                        "decorating the turn (pd.merge_asof tolerance "
                        "semantics, inclusive)")
    p.add_argument("--num-buckets", type=int, default=256)
    p.add_argument("--group-size", type=int, default=32)
    p.add_argument("--repair", action="store_true",
                   help="with --verify: evict mismatching buckets from "
                        "the lineage table and rewrite them, then "
                        "re-verify")
    p.add_argument("--verify", action="store_true",
                   help="after writing, recompute per-bucket stats from "
                        "the data and diff against the lineage table "
                        "(verify_lineage); non-zero exit on mismatch")
    p.add_argument("--output", choices=["sparse", "vw", "libsvm", "multi"],
                   default="sparse",
                   help="'multi' = S14 fan-out: one cached featurized "
                        "upstream written through all three sinks")
    return p.parse_args(argv)


def main(argv=None):
    args = parse_args(argv or sys.argv[1:])

    from aloha_spark.tuning import job_session

    with job_session("aloha-spark-featurize") as spark:
        run(spark, args)


def run(spark, args):
    from aloha_spark.plans.flagship import point_in_time_features
    from aloha_spark.plans.lineage import (
        repair, verify_lineage, write_with_lineage)
    from aloha_spark.plans.pipeline import FeaturePipeline
    from aloha_spark.plans.spec import PipelineSpec
    from aloha_spark.sources.tables import read_table

    t0 = time.time()
    with open(args.spec) as f:
        spec = PipelineSpec.from_json(f.read())
    pipe = FeaturePipeline(spec)

    # turn-side windows FIRST (narrow frame, one exchange serves all
    # four features), then the as-of join — see aloha_spark/plans/flagship.py
    state = read_table(spark, args.state, args.format) if args.state else None
    x = point_in_time_features(
        read_table(spark, args.turns, args.format), state,
        by=args.by, on=args.on, order=(args.order,),
        state_cols=args.state_cols.split(",") if args.state_cols else None,
        hot_key_threshold=args.hot_key_threshold,
        salt_buckets=args.salt_buckets, gap_seconds=args.gap_seconds,
        tolerance=args.asof_tolerance)

    keep = [args.by, args.order, args.on]
    # featurization is row-local; rebalance away from conv-hash
    # partitioning so skewed conversations don't serialize one task
    x = x.repartition(int(spark.sparkContext.defaultParallelism) * 2)
    sink_fns = {"sparse": pipe.to_sparse_vectors, "vw": pipe.to_vw_lines,
                "libsvm": pipe.to_libsvm_lines}
    multi = args.output == "multi"
    if multi:
        # S14 fan-out (datasetCli.scala:84-124 analog): compute the
        # windowed+joined upstream ONCE (persist), then run each sink's
        # featurize+format over it — one pass over the expensive stages,
        # three output datasets with independent lineage tables
        x = x.persist()
    # sink -> (frame, output path, lineage path)
    sinks = {name: (fn(x, keep_cols=keep),
                    f"{args.out}/{name}" if multi else args.out,
                    f"{args.lineage}/{name}" if multi else args.lineage)
             for name, fn in sink_fns.items()
             if multi or name == args.output}

    def write(name):
        out, out_path, lin_path = sinks[name]
        return write_with_lineage(
            out, out_path, lin_path, key=args.by, ts_col=args.on,
            num_buckets=args.num_buckets, group_size=args.group_size)

    def mismatches(name):
        _out, out_path, lin_path = sinks[name]
        return verify_lineage(spark, out_path, lin_path,
                              ts_col=args.on).collect()

    results = {}
    for name in sinks:
        report = write(name)
        results[name] = {"written_buckets": len(report.written_buckets),
                         "skipped_buckets": len(report.skipped_buckets),
                         "groups": report.groups}
    wall = round(time.time() - t0, 1)
    total_bad = 0
    if args.verify:
        for name, res in results.items():
            bad_rows = mismatches(name)
            res["lineage_mismatches"] = len(bad_rows)
            if bad_rows and args.repair:
                repair(spark, sinks[name][2], [r[0] for r in bad_rows])
                res["repaired_buckets"] = len(write(name).written_buckets)
                bad_rows = mismatches(name)
                res["lineage_mismatches_after_repair"] = len(bad_rows)
            total_bad += len(bad_rows)
    if multi:
        x.unpersist()
    result = {"sinks": results} if multi else results[args.output]
    result["wall_sec"] = wall
    print(json.dumps(result))
    if args.verify:
        sys.exit(1 if total_bad else 0)


if __name__ == "__main__":
    main()
