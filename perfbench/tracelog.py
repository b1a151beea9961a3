"""Per-layer figures read from outside the engine.

- ``EventLog`` parses the JSON event log Spark writes when a traced run
  sets ``spark.eventLog.enabled``: task metrics, and SQL plan-node
  metrics (scan time, exchange bytes, the Python stage's worker times and
  Arrow bytes) folded by node.  Tasks and SQL executions are placed in
  spans by their wall-clock times.
- ``StreamProgress`` collects ``StreamingQueryProgress`` through a
  query listener.
- ``wrap`` times calls into a module's public function by replacing the
  module attribute with a timing wrapper for the length of a traced run.
"""

from __future__ import annotations

import json
import os
import statistics
from contextlib import contextmanager
from datetime import datetime


def _walk_plan(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info["nodeName"], info["simpleString"],
                                   m["name"])
    for ch in info.get("children", []):
        _walk_plan(ch, out)


class EventLog:
    def __init__(self, directory: str):
        self.tasks: list = []      # dicts: stage, launch, finish, metrics
        self.jobs: list = []       # submission times, s
        self.accum: dict = {}      # accumulator id -> (node, simple, metric)
        self.driver_updates: list = []   # (execution start s, accum id, value)
        for fn in sorted(os.listdir(directory)):
            self._read(os.path.join(directory, fn))

    def _read(self, path: str) -> None:
        exec_t: dict = {}
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerTaskEnd":
                    ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                    self.tasks.append({
                        "stage": (path, e["Stage ID"]),
                        "launch": ti["Launch Time"] / 1e3,
                        "finish": ti["Finish Time"] / 1e3,
                        "run_ms": tm.get("Executor Run Time", 0),
                        "shuffle_w": tm.get("Shuffle Write Metrics", {})
                        .get("Shuffle Bytes Written", 0),
                        "spill": tm.get("Disk Bytes Spilled", 0),
                        "peak_mem": tm.get("Peak Execution Memory", 0),
                        "accums": [(a["ID"], a.get("Update"))
                                   for a in ti.get("Accumulables", [])],
                    })
                elif ev == "SparkListenerJobStart":
                    self.jobs.append(e["Submission Time"] / 1e3)
                elif ev.endswith("SQLExecutionStart"):
                    exec_t[e["executionId"]] = e["time"] / 1e3
                    _walk_plan(e["sparkPlanInfo"], self.accum)
                elif ev.endswith("SQLAdaptiveExecutionUpdate"):
                    _walk_plan(e["sparkPlanInfo"], self.accum)
                elif ev.endswith("SparkListenerDriverAccumUpdates"):
                    t = exec_t.get(e["executionId"], 0.0)
                    for aid, v in e["accumUpdates"]:
                        self.driver_updates.append((t, aid, v))

    # -- selections ------------------------------------------------------

    @staticmethod
    def _inside(t: float, spans: list) -> bool:
        return any(s["start"] <= t <= s["end"] for s in spans)

    def tasks_in(self, spans: list) -> list:
        return [t for t in self.tasks if self._inside(t["launch"], spans)]

    def jobs_in(self, spans: list) -> int:
        return sum(self._inside(t, spans) for t in self.jobs)

    def node_metric(self, spans: list, node, metric: str,
                    simple_has: str = "", simple_lacks: str = "") -> float:
        """Sum of a plan-node metric's task updates over tasks in
        ``spans``; ``node`` is a node-name prefix."""
        tot = 0.0
        for t in self.tasks_in(spans):
            for aid, v in t["accums"]:
                a = self.accum.get(aid)
                if a and a[0].startswith(node) and a[2] == metric \
                        and simple_has in a[1] \
                        and not (simple_lacks and simple_lacks in a[1]):
                    tot += float(v or 0)
        return tot

    def stage_tasks(self, spans: list, node: str, simple_has: str) -> list:
        """Durations (s) of the tasks of every stage that ran a plan node
        ``node`` whose description contains ``simple_has``."""
        ids = {aid for aid, a in self.accum.items()
               if a[0].startswith(node) and simple_has in a[1]}
        tasks = self.tasks_in(spans)
        stages = {t["stage"] for t in tasks
                  if any(aid in ids for aid, _ in t["accums"])}
        return [t["finish"] - t["launch"] for t in tasks
                if t["stage"] in stages]

    def spark_totals(self, spans: list, ops: int) -> dict:
        ts = self.tasks_in(spans)
        return {
            "spark.jobs": self.jobs_in(spans) / ops,
            "spark.task_s": sum(t["run_ms"] for t in ts) / 1e3 / ops,
            "spark.shuffle_write_bytes": sum(t["shuffle_w"] for t in ts) / ops,
            "spark.spill_bytes": sum(t["spill"] for t in ts) / ops,
            "spark.peak_exec_mem_bytes": max((t["peak_mem"] for t in ts),
                                             default=0),
        }

    def driver_metric(self, spans: list, node: str, metric: str) -> float:
        """Sum of a driver-side plan-node metric (file listing, written
        files) over SQL executions started in ``spans``."""
        tot = 0.0
        for t, aid, v in self.driver_updates:
            a = self.accum.get(aid)
            if a and a[0].startswith(node) and a[2] == metric \
                    and self._inside(t, spans):
                tot += float(v)
        return tot

    def python_stage(self, spans: list, ops: int) -> dict:
        def m(name):
            return self.node_metric(spans, "MapInArrow", name)
        return {
            "pipeline.python_run_s": m("time to run Python workers") / 1e3 / ops,
            "pipeline.python_boot_s":
                (m("time to start Python workers")
                 + m("time to initialize Python workers")) / 1e3 / ops,
            "pipeline.arrow_bytes_to_py": m("data sent to Python workers") / ops,
            "pipeline.arrow_bytes_from_py":
                m("data returned from Python workers") / ops,
            "pipeline.rows_in": m("number of output rows") / ops,
        }

    def exchange_bytes(self, spans: list, ops: int) -> dict:
        """Shuffle bytes of the turn-window exchange (hash on conv_id
        alone) and of the as-of exchange (hash on conv_id and salt)."""
        def ex(has, lacks=""):
            return self.node_metric(spans, "Exchange", "shuffle bytes written",
                                    has, lacks) / ops
        return {
            "windows.shuffle_bytes": ex("hashpartitioning(conv_id#",
                                        "__asof_salt"),
            "asof.shuffle_bytes": ex("__asof_salt"),
        }

    def scan(self, spans: list, ops: int) -> dict:
        return {
            "sources.scan_s":
                self.node_metric(spans, "Scan", "scan time") / 1e3 / ops,
            "sources.bytes_read":
                self.driver_metric(spans, "Scan", "size of files read") / ops,
        }


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class StreamProgress:
    """Collects each micro-batch's progress of every streaming query."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.progress: list = []
        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                outer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()
        self.spark = spark
        spark.streams.addListener(self.listener)

    def metrics(self, spans: list, ops: int) -> dict:
        """Per-batch figures of the batches that started inside ``spans``
        (the listener hears of a batch after it ends, possibly after the
        span, so each batch is placed by its own start time)."""
        ps = [p for p in self.progress if p.get("numInputRows", 0) > 0
              and EventLog._inside(_epoch(p["timestamp"]), spans)]

        def p50(key):
            vals = [p["durationMs"].get(key, 0) for p in ps]
            return statistics.median(vals) if vals else 0

        state = [p["stateOperators"][0] for p in ps if p.get("stateOperators")]
        return {
            "streaming.batches": len(ps) / ops,
            "streaming.batch_ms_p50": p50("triggerExecution"),
            "streaming.add_batch_ms_p50": p50("addBatch"),
            "streaming.commit_ms_p50": p50("commitOffsets"),
            "streaming.state_rows": max((s["numRowsTotal"] for s in state),
                                        default=0),
            "streaming.state_mem_bytes": max((s["memoryUsedBytes"]
                                              for s in state), default=0),
            "streaming.rows_dropped_by_watermark":
                sum(s.get("numRowsDroppedByWatermark", 0) for s in state) / ops,
        }


@contextmanager
def wrap(module, name: str, tracer, span: str):
    """Time every call of ``module.name`` as a span called ``span``."""
    real = getattr(module, name)

    def timed(*a, **kw):
        with tracer.span(span):
            return real(*a, **kw)

    setattr(module, name, timed)
    try:
        yield
    finally:
        setattr(module, name, real)
