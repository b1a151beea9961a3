"""Process, session and trace plumbing shared by every workload.

Everything a run writes lands under ``<checkout>/.perfbench_work/<pid>``
(inputs, outputs, Spark local dirs, JVM temp files, event logs) and is
removed when the run ends, so each run sets up from nothing.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_BASE = os.path.join(ROOT, ".perfbench_work")
CLK_TCK = os.sysconf("SC_CLK_TCK")


def width() -> int:
    """Spark's task slots: half the cores this process may run on.  Each
    task of the Arrow stage keeps a Python worker busy beside its JVM
    thread, so ``local[cores / 2]`` keeps the busy threads at about the
    core count; at ``local[cores]`` a round's wall grew 29% when two
    busy loops shared the machine, at ``local[cores / 2]`` 5%."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def make_workdir() -> str:
    d = os.path.join(WORK_BASE, str(os.getpid()))
    shutil.rmtree(d, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(d, sub))
    # Python-side temp files (py4j connection info, pyspark daemons) and
    # Spark's scratch space stay inside the work dir
    os.environ["TMPDIR"] = os.path.join(d, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(d, "local")
    import tempfile
    tempfile.tempdir = os.environ["TMPDIR"]
    return d


def remove_workdir(d: str) -> None:
    shutil.rmtree(d, ignore_errors=True)
    try:
        os.rmdir(WORK_BASE)
    except OSError:
        pass


def spark_confs(work: str, event_log: bool = False) -> dict:
    """Session settings for every Spark process a run starts (in-process
    session and spark-submit jobs alike)."""
    from aloha_spark.tuning import arrow_batch_rows, worker_channel_confs

    n = width()
    tmp = os.path.join(work, "tmp")
    confs = {
        "spark.master": f"local[{n}]",
        "spark.driver.memory": "2g",
        "spark.sql.shuffle.partitions": str(max(2 * n, 8)),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch":
            str(arrow_batch_rows(n)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    confs.update(worker_channel_confs())
    if event_log:
        ev = os.path.join(work, "events")
        os.makedirs(ev, exist_ok=True)
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = "file://" + ev
        confs["spark.eventLog.compress"] = "false"
        confs["spark.eventLog.rolling.enabled"] = "false"
    return confs


def start_session(work: str, event_log: bool = False):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("perfbench")
    for k, v in spark_confs(work, event_log).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def end_jvm(timeout: float = 60.0) -> None:
    """Close the JVM's stdin (PySpark's JVM exits on that EOF) and wait
    until every process this run started has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        gw.proc.stdin.close()
        gw.proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    while len(tree()) > 1 and time.time() < deadline:
        time.sleep(0.1)


# -- process-tree accounting (/proc of this process and its descendants) --

def _children() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                st = f.read()
        except OSError:
            continue
        ppid = int(st[st.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree() -> dict:
    """pid -> True for processes a JVM of this run started, False for
    the rest of the tree (this driver, the JVM itself)."""
    kids = _children()
    out, todo = {}, [(os.getpid(), False)]
    while todo:
        p, under_jvm = todo.pop()
        out[p] = under_jvm
        java = _comm(p) == "java"
        todo.extend((k, under_jvm or java) for k in kids.get(p, ()))
    return out


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` plus cutime + cstime of its reaped
    children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            st = f.read()
    except OSError:
        return 0
    fields = st[st.rfind(")") + 2:].split()
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s() -> float:
    return sum(_cpu_ticks(p) for p in tree()) / CLK_TCK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class HwmWatch:
    """Peak over time of the summed ``VmHWM`` of the process tree.

    ``VmHWM`` is the kernel's per-process RSS high-water mark, so each
    poll reads every live process's peak so far; polling only matters
    for processes that exit before the run ends, whose last reading is
    taken at most one period before they exit.

    Below the JVM only PySpark's Python workers count, and only the
    ``width()`` largest alive at a poll: at most that many tasks run at
    once, and the rest are idle forks of the worker daemon whose number
    varies from run to run.  Other JVM children are short-lived fork/exec
    helpers whose ``VmHWM`` mirrors the JVM pages they shared at fork."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self.by_pid: dict = {}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def poll(self) -> None:
        live = {p: (_hwm_kb(p), w) for p, w in tree().items()
                if not w or _comm(p).startswith("python")}
        self.by_pid.update(live)
        workers = sorted((kb for kb, w in live.values() if w), reverse=True)
        total = sum(kb for kb, w in live.values() if not w) \
            + sum(workers[:width()])
        self.peak_kb = max(self.peak_kb, total)

    def breakdown(self) -> dict:
        """Peak MB of every process seen (a diagnostic)."""
        out: dict = {"workers": [], "other": []}
        for kb, w in self.by_pid.values():
            out["workers" if w else "other"].append(round(kb / 1024))
        return out

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.poll()

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self.poll()


# -- spans ---------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, run id) and counters,
    written out once as JSON when the run ends."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list = []
        self.counters: dict = {}
        self._stack: list = []

    @contextmanager
    def span(self, name: str):
        """Record one span.  Times are epoch seconds, so the event log's
        task and SQL-execution times can be placed inside spans."""
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def find(self, name: str) -> list:
        return [s for s in self.spans if s["name"] == name]

    def dur(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.find(name))

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "counters": self.counters, **extra}, f, indent=1)


def quartiles(values: list) -> tuple:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3
