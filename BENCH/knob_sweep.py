"""Width-32 runtime-knob sweep for the flagship pipeline.

The 8->32 scaling pair plateaus on this host (BENCH/BASELINE.md); the
zero-Python stage probe attributes it to the shared memory bus, not the
plan.  This sweep measures whether any *runtime* knob (shuffle partition
count, GC, shuffle locality/compression, local dirs on tmpfs) moves the
width-32 wall on the same 16M-turn input, fresh JVM per run, warm-up
pass before timing — i.e. the same protocol as BENCH/scaling.py.

Usage: python BENCH/knob_sweep.py [--turns 16000000] [--cpus 32]
Prints one JSON line per variant and a ranked summary.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNNER = textwrap.dedent("""
    import json, os, sys, time
    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession
    from aloha_spark.tuning import arrow_batch_rows, worker_channel_confs

    cpus = int(sys.argv[1])
    data_dir = sys.argv[2]
    extra = json.loads(sys.argv[3])
    b = (SparkSession.builder.master(f"local[{{cpus}}]")
         .appName(f"knob-{{cpus}}")
         .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 8)))
         .config("spark.default.parallelism", str(max(2 * cpus, 8)))
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                 str(arrow_batch_rows(cpus)))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.driver.memory", "24g")
         .config("spark.ui.enabled", "false")
         .config(map=worker_channel_confs()))
    for k, v in extra.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    from aloha_spark.plans.flagship import flagship_vectors

    turns = spark.read.parquet(f"{{data_dir}}/turns")
    state = spark.read.parquet(f"{{data_dir}}/state")
    n = turns.count()

    def pipeline():
        return flagship_vectors(turns, state,
                                state_cols=["state_score", "state_tag"],
                                hot_keys=["mega"], salt_buckets=8)

    pipeline().limit(50000).write.format("noop").mode("overwrite").save()
    t0 = time.time()
    pipeline().write.format("noop").mode("overwrite").save()
    wall = time.time() - t0
    print(json.dumps({{"cpus": cpus, "rows": n, "wall_sec": round(wall, 2),
                       "rows_per_sec": round(n / wall, 1)}}))
    spark.stop()
""")

VARIANTS = {
    "baseline": {},
    "shuffle_128": {"spark.sql.shuffle.partitions": "128"},
    "shuffle_32": {"spark.sql.shuffle.partitions": "32"},
    # sub-core-count partitioning: each task slot carries a JVM thread
    # AND a Python worker, so local[32] runs ~64 runnables on 32 vCPUs
    # — tested whether fewer, fatter tasks relieve the oversubscription
    # (BENCH/kernel_probe.py attribution).  MEASURED: they don't —
    # 16M rows, interleaved: baseline-64 25.5s, shuffle_16 29.5s,
    # shuffle_24 33.4s.  Fat tasks forfeit more to stragglers than the
    # oversubscription costs; baseline kept.
    "shuffle_24": {"spark.sql.shuffle.partitions": "24"},
    "shuffle_16": {"spark.sql.shuffle.partitions": "16"},
    # 5 interleaved 16M pairs vs G1: ParallelGC degrades far less under
    # hypervisor-steal windows (won 3 noisy pairs by 25-60%) but loses
    # quiet pairs by ~8%; no consistent winner, G1 default kept
    "parallel_gc": {"spark.driver.extraJavaOptions": "-XX:+UseParallelGC"},
    "tmpfs_local_dir": {"spark.local.dir": "/dev/shm/aloha_knob"},
    "no_shuffle_compress": {"spark.shuffle.compress": "false",
                            "spark.shuffle.spill.compress": "false"},
    "mem_48g": {"spark.driver.memory": "48g"},
    # revert to the TCP worker channel (the default is UDS, see
    # aloha_spark/tuning.py::worker_channel_confs)
    "tcp_channel": {"spark.python.unix.domain.socket.enabled": "false"},
}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=16_000_000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--variants", default=",".join(VARIANTS))
    args = ap.parse_args()

    data_dir = os.path.join(tempfile.gettempdir(),
                            f"aloha_scaling_{args.turns}")
    if not os.path.exists(os.path.join(data_dir, "state")):
        raise SystemExit(f"run BENCH/scaling.py first to materialize "
                         f"{data_dir}")
    os.makedirs("/dev/shm/aloha_knob", exist_ok=True)
    runner = RUNNER.format(repo=REPO)
    names = [v for v in args.variants.split(",") if v in VARIANTS]
    best: dict[str, float] = {}
    for rep in range(args.reps):
        for name in names:        # interleaved, same protocol as scaling.py
            cmd = [sys.executable, "-c", runner, str(args.cpus), data_dir,
                   json.dumps(VARIANTS[name])]
            out = subprocess.run(cmd, capture_output=True, text=True)
            if out.returncode != 0:
                sys.stderr.write(out.stderr[-2000:])
                print(json.dumps({"variant": name, "error": True}))
                continue
            line = [l for l in out.stdout.splitlines()
                    if l.startswith("{")][-1]
            r = json.loads(line)
            r["variant"] = name
            r["rep"] = rep
            print(json.dumps(r), flush=True)
            best[name] = min(best.get(name, 1e9), r["wall_sec"])
    ranked = sorted(best.items(), key=lambda kv: kv[1])
    print(json.dumps({"ranked_best_walls": ranked}))


if __name__ == "__main__":
    main()
