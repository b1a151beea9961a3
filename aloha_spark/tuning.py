"""Session tuning shared by every entry point.

One knob lives here so bench, the scaling evidence, the spark-submit
job, and tests derive it the same way instead of hardcoding a number
that is only right for one workload shape.
"""

from __future__ import annotations

from contextlib import contextmanager


def arrow_batch_rows(parallelism: int) -> int:
    """Arrow batch size (``spark.sql.execution.arrow.maxRecordsPerBatch``).

    Measured on the flagship featurize pipeline (fresh-JVM interleaved
    reps at widths 8 and 32, 2M and 16M turns):

    * The hard constraint is **batches per task**: the input lands in
      64 file partitions, so at 2M turns each task holds ~31k rows —
      a 30k batch means ONE batch per task, JVM production and Python
      consumption fully serialize, and the warm wall explodes ~5x
      (25-35s vs 4.2-5.3s).  At 16M turns (~250k rows/task) 30k
      batches pipeline fine and the 10k-vs-30k delta is inside the
      host's ±30% steal noise.
    * Within 4k-10k the warm 2M wall is flat (4.1-5.3s across widths);
      below 4k per-batch kernel/IPC overhead starts to show.

    So: a fixed 10k — the widest batch that still guarantees multiple
    batches per task at the small end of realistic partition sizes —
    is the robust choice at every measured (width, rows) cell.  The
    ``parallelism`` argument is kept so a future width-dependent rule
    slots in without touching call sites.

    Post-UDS re-measurement (see :func:`worker_channel_confs`): with
    the worker channel on Unix domain sockets the 2M 30k-batch blowup
    is GONE (4.6s vs the 25-35s measured over TCP) — the "JVM/Python
    serialization" was actually the lossy TCP channel collapsing under
    the burstier 30k traffic — and throughput is flat within noise
    across 10k-30k at both 2M and 16M.  10k stays: it is the safe
    choice if anyone reverts to TCP, and there is nothing to win.
    """
    del parallelism
    return 10_000


def worker_channel_confs() -> dict:
    """Session confs for the JVM<->Python-worker data channel.

    Default the channel to UNIX DOMAIN SOCKETS
    (``spark.python.unix.domain.socket.enabled``, Spark 4.1+) instead
    of TCP-over-loopback.  Diagnosed on this host (jstack + ``ss
    -tinm``, see BENCH/BASELINE.md): the virtualized loopback DROPS
    PACKETS under load — ``bytes_retrans`` > 0 and ``dsack_dups`` on
    127.0.0.1 — which collapses the Arrow channel's congestion window
    to 1 and backs the retransmit timer off to rto=120s with both 4 MB
    socket queues full: a task-level stall measured to reproduce in
    ~half of full-width 16M-row runs.  UDS has no congestion control,
    no retransmission, and no zero-window state, so the failure class
    is structurally absent; measured throughput is parity-to-better
    (best 16M width-32 wall of the measurement day was a UDS run).
    On real hardware loopback does not drop packets and either channel
    works; the conf is still the safer default wherever Python workers
    colocate with executors."""
    return {"spark.python.unix.domain.socket.enabled": "true"}


#: runtime SQL confs a job sets on whatever session it runs on (the
#: Arrow batch size is added once the session's width is known)
_JOB_SQL_CONFS = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
}
_ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


@contextmanager
def job_session(app_name: str):
    """The session a spark-submit job (``jobs/featurize.py``,
    ``jobs/curate.py``) runs on.

    Standalone, the job owns the session and stops it on exit.  Called
    from a driver that already has an active session, the job runs on
    that session, and on exit puts back the caller's values of the
    runtime confs it set (``_JOB_SQL_CONFS`` and the Arrow batch size;
    a conf the caller never set is unset again) and leaves the session
    running.  Static confs in the builder do not change an existing
    session."""
    from pyspark.sql import SparkSession

    caller = SparkSession.getActiveSession()
    saved = None if caller is None else {
        k: caller.conf.get(k, None) for k in (*_JOB_SQL_CONFS, _ARROW_BATCH)}
    spark = (SparkSession.builder.appName(app_name)
             .config(map=_JOB_SQL_CONFS)
             # straggler mitigation on real clusters: every job stage is
             # idempotent (deterministic transforms + lineage-gated
             # bucket writes), so a speculative duplicate of a stuck
             # task is always safe.  Quantile 0.9 + multiplier 3 only
             # relaunches the long tail (e.g. a host with the
             # kernel-preemption episodes documented in
             # BENCH/BASELINE.md); no-op under local[N].
             .config("spark.speculation", "true")
             .config("spark.speculation.quantile", "0.9")
             .config("spark.speculation.multiplier", "3")
             .config(map=worker_channel_confs())
             .getOrCreate())
    # width known only now (spark-submit --master decides): Arrow batch
    # size is a runtime conf, sized per arrow_batch_rows
    spark.conf.set(_ARROW_BATCH, str(
        arrow_batch_rows(spark.sparkContext.defaultParallelism)))
    try:
        yield spark
    finally:
        if saved is None:
            spark.stop()
        else:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
