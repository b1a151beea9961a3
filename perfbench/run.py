"""One run of one benchmark workload.

    python3 perfbench/run.py --workload pit_skewed --seed 1 --seconds 10 --trace 0

Starts a Spark session at ``local[<cores>/2]``, builds the workload's
seeded inputs and runs its warm-up, if it has one (session start, inputs
and warm-up are ``setup_s``).  Then it repeats whole rounds until
``--seconds`` have passed and the workload's ``min_rounds`` are done;
``rows_per_s`` and ``cpu_us_per_row`` are medians over those rounds.
The warm-up's output (``pit_skewed``) or the last round's
(``write_jobs``) is checked against ``oracles``.  Prints one JSON line:
``correct``, ``attempted``, ``failed`` and ``metrics`` -- the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.  A
traced run also writes its spans and counters to
``.perfbench_traces/<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

END_TO_END = {"rows_per_s": "rows/s", "cpu_us_per_row": "us",
              "peak_rss_mb": "MB", "setup_s": "s"}


def per_layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


class Ctx:
    """What a workload needs: the session, its work dir, seed, tracer."""

    def __init__(self, work, seed, tracer, trace):
        self.work, self.seed, self.tracer, self.trace = work, seed, tracer, trace
        self.spark = None
        self.checked = {}

    def restart(self):
        import harness
        self.spark = harness.start_session(self.work, event_log=self.trace)


def traced_layers(name, wl, ctx, ev, stream, rounds, rows_per_s) -> dict:
    """Every per-layer figure of a traced run, by the names BENCHMARK.json
    lists (0 where a layer does not run on the workload)."""
    tr = ctx.tracer
    ops = tr.find("op")
    m = {k: 0.0 for k in per_layer_units()}
    m.update(ev.spark_totals(ops, rounds))
    m.update(ev.scan(ops, rounds))
    m.update(tr.counters)
    by_id = {s["id"]: s for s in tr.spans}

    def in_op(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            if s["name"] == "op":
                return True
        return False

    def under(name, parents):
        """Spans ``name`` of the timed rounds whose parent is one of
        ``parents``."""
        return [s for s in tr.find(name) if in_op(s)
                and by_id[s["parent"]]["name"] in parents]

    def total(spans):
        return sum(s["end"] - s["start"] for s in spans) / rounds

    if name == "pit_skewed":
        flagship, out_rows = ops, wl.rows
        p = {s: tr.dur(f"prefix.{s}") for s in
             ("scan", "windows", "asof", "pipeline")}
        m["windows.s"] = p["windows"] - p["scan"]
        m["asof.s"] = p["asof"] - p["windows"]
        m["pipeline.s"] = p["pipeline"] - p["asof"]
    else:
        # the turn-side layers run inside the featurize job's two calls
        flagship = tr.find("job.run") + tr.find("job.resume")
        out_rows = wl.job.rows + tr.counters.get("job.rewritten_rows", 0)
        m["job.run_s"] = tr.dur("job.run") / rounds
        m["job.resume_s"] = tr.dur("job.resume") / rounds
        m["job.shuffle_bytes"] = ev.spark_totals(
            flagship, rounds)["spark.shuffle_write_bytes"]
        m["lineage.write_s"] = total(under("lineage.write", ("job.run",)))
        res = under("lineage.write", ("job.resume",))
        m["lineage.resume_write_s"] = total(res)
        m["lineage.verify_s"] = sum(by_id[s["parent"]]["end"] - s["end"]
                                    for s in res) / rounds
        m["asof.hot_key_detect_s"] = total(
            under("asof.detect", ("job.run", "job.resume")))
        cur = [s for s in tr.find("curate.run") if in_op(s)]
        m["curate.plan_s"] = total(under("curate.plan", ("curate.run",)))
        m["curate.write_s"] = total(under("lineage.write", ("curate.run",)))
        m["curate.spark_jobs"] = ev.jobs_in(cur) / rounds
        m["curate.rows_scanned_per_doc"] = ev.node_metric(
            cur, "Scan", "number of output rows") / rounds / wl.parts[1].rows
        m.update(stream.metrics(
            [s for s in tr.find("stream.run") if in_op(s)], rounds))
    m.update(ev.exchange_bytes(flagship, rounds))
    m.update(ev.python_stage(flagship, rounds))
    skew = ev.stage_tasks(flagship, "Sort", "__asof_salt")
    if skew:
        m["asof.task_s_max"] = max(skew)
        m["asof.task_s_p50"] = statistics.median(skew)
    if m["pipeline.rows_in"]:
        m["pipeline.rows_in_per_row_out"] = m["pipeline.rows_in"] / out_rows
    m["trace.rows_per_s"] = rows_per_s
    m.pop("job.rewritten_rows", None)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t0 = time.perf_counter()

    import aloha_spark  # noqa: F401  (the program under test must exist)

    import harness
    import tracelog
    from workloads import WORKLOADS

    trace = bool(args.trace)
    work = harness.make_workdir()
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    ctx = Ctx(work, args.seed, harness.Tracer(run_id, trace), trace)
    wl = WORKLOADS[args.workload](ctx)
    stream = None
    try:
        with harness.HwmWatch() as hwm, wrapped(args.workload, ctx):
            ctx.restart()
            phases = {"session_s": time.perf_counter() - t0}
            if trace and args.workload == "write_jobs":
                stream = tracelog.StreamProgress(ctx.spark)
            with ctx.tracer.span("inputs"):
                wl.inputs()
            phases["inputs_s"] = time.perf_counter() - t0 - sum(phases.values())
            with ctx.tracer.span("warmup"):
                attempted, failed = attempt(wl.warmup, wl.ops)
            setup_s = time.perf_counter() - t0
            phases["warmup_s"] = setup_s - sum(phases.values())
            start = time.perf_counter()
            walls, cpus = [], []
            while time.perf_counter() - start < args.seconds \
                    or len(walls) < wl.min_rounds:
                c0, w0 = harness.tree_cpu_s(), time.perf_counter()
                with ctx.tracer.span("op"):
                    a, f = attempt(wl.round, wl.ops)
                walls.append(time.perf_counter() - w0)
                cpus.append(harness.tree_cpu_s() - c0)
                attempted, failed = attempted + a, failed + f
        rounds = len(walls)
        t1 = time.perf_counter()
        with ctx.tracer.span("check"):
            try:
                a, problems = wl.check()
            except Exception as e:
                traceback.print_exc()
                a, problems = 0, [f"check raised {e!r}"]
        attempted += a
        failed += bool(problems)
        # medians over the timed rounds: one slow round (host noise) does
        # not move the figure
        metrics = {"rows_per_s": wl.rows / statistics.median(walls),
                   "cpu_us_per_row": statistics.median(cpus) / wl.rows * 1e6,
                   "peak_rss_mb": hwm.peak_kb / 1024,
                   "setup_s": setup_s}
        phases.update(timed_s=sum(walls), rounds=rounds, walls=walls,
                      check_s=time.perf_counter() - t1,
                      rss_mb=hwm.breakdown())
        if trace:
            with ctx.tracer.span("layers"):
                ctx.tracer.counters.update(wl.layers(ctx.tracer))
            ctx.spark.stop()
            ev = tracelog.EventLog(os.path.join(work, "events"))
            layer = traced_layers(args.workload, wl, ctx, ev, stream, rounds,
                                  metrics["rows_per_s"])
            units = per_layer_units()
            out = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
            tdir = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(tdir, exist_ok=True)
            ctx.tracer.dump(os.path.join(tdir, f"{args.workload}.json"),
                            {"per_layer": layer, "end_to_end": metrics,
                             "phases": phases, "checked": ctx.checked})
        else:
            out = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in metrics.items()}
        print("phases: " + json.dumps(phases), file=sys.stderr)
        if problems:
            print("check failed: " + "; ".join(problems[:10]), file=sys.stderr)
        print(json.dumps({"correct": not problems, "attempted": attempted,
                          "failed": failed, "metrics": out}))
        return 0
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
        harness.end_jvm()
        harness.remove_workdir(work)


def attempt(fn, ops: int) -> tuple:
    """(attempted, failed) of ``fn``; an exception fails all ``ops``."""
    try:
        return fn()
    except Exception:
        traceback.print_exc()
        return ops, ops


def wrapped(workload: str, ctx):
    """A traced ``write_jobs`` run times the jobs' calls into lineage,
    hot-key detection and the curation plan from outside; everything
    else runs unwrapped."""
    from contextlib import ExitStack

    stack = ExitStack()
    if ctx.trace and workload == "write_jobs":
        import jobs.curate
        import tracelog
        from aloha_spark.operators import asof
        from aloha_spark.plans import lineage
        for mod, fn, span in ((lineage, "write_with_lineage", "lineage.write"),
                              (asof, "detect_hot_keys", "asof.detect"),
                              (jobs.curate, "curate", "curate.plan")):
            stack.enter_context(tracelog.wrap(mod, fn, ctx.tracer, span))
    return stack


if __name__ == "__main__":
    sys.exit(main())
