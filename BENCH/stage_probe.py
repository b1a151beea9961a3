"""Width-scaling attribution probe: which stage stops scaling 8 -> 32?

Runs the flagship pipeline's pure-JVM portion (windows + salted as-of,
zero Python — ``point_in_time_features``) and the full pipeline
(``flagship_vectors``, + Arrow featurize) at two parallelism levels on
the same pre-materialized input, in fresh JVMs.

Round-4 numbers (16M turns, UDS channel, measured the same day as the
committed scaling table, after the khash-factorize kernel rewrite):

    jvm  local[8]  1,166,147 rows/s   full local[8]    603,193
    jvm  local[32] 2,809,562 rows/s   full local[32]   835,932

Two attributions fall out:

* The PURE-JVM Catalyst plan itself caps at 8->32 efficiency
  2,809,562 / (4 x 1,166,147) = 0.602 — that is this host's
  single-box ceiling (one shared DRAM bus for shuffle/sort/hash +
  20-30% hypervisor steal), the upper bound for ANY plan at width 32.
* The incremental wall of the Arrow featurize stage is WIDTH-FLAT:
  12.8s at local[8] (13.72 -> 26.53s) vs 13.4s at local[32]
  (5.69 -> 19.14s).  32 memory-bound numpy workers move no more
  rows/sec than 8 on one shared bus; that flat stage is the entire
  full-pipeline 8->32 gap (0.35 vs the 0.602 ceiling).  On a real
  N -> 4N *executor* cluster each executor adds its own memory bus,
  which is the regime the 2->8 pair (0.87-0.91 across rounds)
  evidences.

(Round-3 history: pre-khash numbers were jvm 740k/1,520k and full
405k/500k — the kernel rewrite sped the full pipeline up at every
width; the ratio moved only because the denominator improved more.)

Usage: python BENCH/stage_probe.py [--cpus 8,32] [--parts jvm,full]
       [--data-dir /tmp/aloha_scaling_16000000]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNNER = textwrap.dedent("""
    import json, sys, time
    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession
    from aloha_spark.tuning import arrow_batch_rows, worker_channel_confs

    cpus = int(sys.argv[1]); part = sys.argv[2]; data_dir = sys.argv[3]
    spark = (SparkSession.builder.master(f"local[{{cpus}}]")
             .appName(f"probe-{{cpus}}-{{part}}")
             .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 8)))
             .config("spark.default.parallelism", str(max(2 * cpus, 8)))
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             # shared batch-size knob (aloha_spark/tuning.py)
             .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                     str(arrow_batch_rows(cpus)))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.driver.memory", "24g")
             .config("spark.ui.enabled", "false")
             .config(map=worker_channel_confs())
             .getOrCreate())
    from aloha_spark.plans.flagship import (flagship_vectors,
                                            point_in_time_features)

    turns = spark.read.parquet(f"{{data_dir}}/turns")
    state = spark.read.parquet(f"{{data_dir}}/state")
    n = turns.count()

    def build():
        kw = dict(state_cols=["state_score", "state_tag"],
                  hot_keys=["mega"], salt_buckets=8)
        if part == "jvm":
            return point_in_time_features(turns, state, **kw)
        return flagship_vectors(turns, state, **kw)

    build().limit(50000).write.format("noop").mode("overwrite").save()
    t0 = time.time()
    build().write.format("noop").mode("overwrite").save()
    wall = time.time() - t0
    print(json.dumps({{"cpus": cpus, "part": part,
                       "wall_sec": round(wall, 2),
                       "rows_per_sec": round(n / wall, 1)}}))
    spark.stop()
""")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", default="8,32")
    ap.add_argument("--parts", default="jvm,full")
    ap.add_argument("--data-dir",
                    default="/tmp/aloha_scaling_16000000",
                    help="pre-materialized turns/state parquet "
                         "(generate via BENCH/scaling.py)")
    args = ap.parse_args()
    if not os.path.exists(os.path.join(args.data_dir, "state")):
        raise SystemExit(f"{args.data_dir} missing — run BENCH/scaling.py "
                         "first to materialize the input")
    env = dict(os.environ, PYTHONPATH=REPO)  # python workers need the repo
    runner = RUNNER.format(repo=REPO)
    out = []
    for part in args.parts.split(","):
        for cpus in args.cpus.split(","):
            print(f"probe local[{cpus}] {part} ...", file=sys.stderr)
            r = subprocess.run(
                [sys.executable, "-c", runner, cpus, part, args.data_dir],
                capture_output=True, text=True, env=env)
            if r.returncode != 0:
                sys.stderr.write(r.stderr[-2000:])
                raise SystemExit("probe subprocess failed")
            line = [x for x in r.stdout.splitlines()
                    if x.startswith("{")][-1]
            print(line)
            out.append(json.loads(line))
    with open(os.path.join(REPO, "BENCH", "last_stage_probe.json"),
              "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
