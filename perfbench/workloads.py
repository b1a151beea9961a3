"""The benchmark's workloads.

Each workload has ``rows`` (input rows of one round), ``ops`` (the
operations of one round), ``min_rounds`` (timed rounds at least),
``inputs`` (its seeded input files),
``warmup`` (run before timing; returns the operations it attempted and
failed), ``round`` (one whole round of operations, returning how many it
attempted and how many failed), ``check`` (compares an output against
``oracles``; returns the operations it attempted and its problems) and
``layers`` (the per-layer figures of a traced run, read from outside the
engine).  ``write_jobs`` is made of three parts, each with ``rows``,
``ops``, ``inputs``, ``round``, ``check`` and ``layers``.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import random
import shutil

import pandas as pd

import oracles
from inputs import write_documents, write_stream_source, write_transcripts

HOT_KEYS = ["mega"]


def _sample_convs(spark, path: str, seed: int, k: int) -> list:
    """``k`` seeded conversations plus the hot one."""
    convs = sorted(r[0] for r in spark.read.parquet(path)
                   .select("conv_id").distinct().collect())
    normal = [c for c in convs if c not in HOT_KEYS]
    return random.Random(seed).sample(normal, k) + HOT_KEYS


def _read_convs(spark, path: str, convs: list) -> pd.DataFrame:
    from pyspark.sql import functions as F
    return spark.read.parquet(path).where(F.col("conv_id").isin(convs)) \
        .toPandas()


def _mega_salts(spark, turns_path: str) -> int:
    """Distinct as-of salt buckets the hot conversation's turns fall in
    (the salting rule of ``operators.asof``, recomputed here)."""
    from pyspark.sql import functions as F
    return spark.read.parquet(turns_path).where(F.col("conv_id") == "mega") \
        .select(F.pmod(F.xxhash64(F.col("ts").cast("string"), F.lit(42)),
                       F.lit(8)).alias("s")).distinct().count()


class PitSkewed:
    """Flagship point-in-time featurize (windows -> salted as-of ->
    Arrow featurize) to the noop sink."""

    n_convs, turns_per_conv, mega, files = 1000, 99, 1000, 8
    rows = n_convs * turns_per_conv + mega
    sample = 16
    ops, min_rounds = 1, 3

    def __init__(self, ctx):
        self.ctx = ctx

    def _vectors(self):
        from aloha_spark.plans.flagship import flagship_vectors
        spark = self.ctx.spark
        return flagship_vectors(
            spark.read.parquet(self.turns), spark.read.parquet(self.state),
            state_cols=["state_score", "state_tag"], hot_keys=HOT_KEYS,
            salt_buckets=8)

    def inputs(self):
        c = self.ctx
        self.turns, self.state = write_transcripts(
            c.spark, f"{c.work}/in", c.seed, self.n_convs,
            self.turns_per_conv, self.mega, self.files)

    def round(self):
        self._vectors().write.format("noop").mode("overwrite").save()
        return 1, 0

    def warmup(self):
        """One checked round -- the same plan, with the sampled
        conversations collected and the output rows counted in that
        single pass -- then one plain round.  The JIT keeps speeding
        rounds up for a few rounds after the first; the plain round
        takes the timed ones past the steepest part of that."""
        try:
            self.problems = self._check()
        except Exception as e:  # a failed operation, reported by check
            self.problems = [f"checked round raised {e!r}"]
        self.round()
        return 2, 0

    def check(self):
        return 0, self.problems

    def _check(self) -> list:
        from pyspark.sql import Observation, functions as F

        c = self.ctx
        convs = _sample_convs(c.spark, self.turns, c.seed, self.sample)
        rows = Observation("rows")
        got = self._vectors().observe(rows, F.count(F.lit(1)).alias("n")) \
            .where(F.col("conv_id").isin(convs)).toPandas()
        pit = oracles.point_in_time(_read_convs(c.spark, self.turns, convs),
                                    _read_convs(c.spark, self.state, convs))
        probs = oracles.check_sparse(pit, got)
        oracles.assert_rejects(oracles.check_sparse, pit[:1], got,
                               oracles.leak_sparse)
        if rows.get["n"] != self.rows:
            probs.append(f"{rows.get['n']} output rows for {self.rows} turns")
        if _mega_salts(c.spark, self.turns) < 2:
            probs.append("hot conversation landed in a single salt bucket")
        c.checked = {"rows_compared": len(pit),
                     "hot_rows_compared": int((pit.conv_id == "mega").sum())}
        return probs

    def layers(self, tracer) -> dict:
        """Materialize each prefix of the plan to noop in order; a
        layer's time is the difference between consecutive prefixes."""
        from aloha_spark.operators.asof import asof_join
        from aloha_spark.operators.windows import (
            with_backfill, with_lag_lead, with_session_id, with_ts_delta)
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        turns = spark.read.parquet(self.turns)
        state = spark.read.parquet(self.state)
        w = with_lag_lead(turns, ["text"], order=("turn_idx",), lead=False)
        w = with_backfill(w, ["tool"], order=("turn_idx",))
        w = with_ts_delta(w, order=("turn_idx",))
        w = with_session_id(w, order=("turn_idx",))
        a = asof_join(w, state, on="ts", by="conv_id",
                      state_cols=["state_score", "state_tag"],
                      hot_keys=HOT_KEYS, salt_buckets=8)
        prefixes = [("scan", [turns, state]), ("windows", [w]),
                    ("asof", [a]), ("pipeline", [self._vectors()])]
        for name, dfs in prefixes:
            with tracer.span(f"prefix.{name}"):
                for df in dfs:
                    df.write.format("noop").mode("overwrite").save()
        with tracer.span("count.matched"):
            tracer.counters["asof.matched_turns"] = \
                a.where(F.col("state_score").isNotNull()).count()
        with tracer.span("count.nnz"):
            tracer.counters["pipeline.nnz"] = self._vectors() \
                .select(F.sum(F.size("indices"))).first()[0]
        return {}


def run_job(ctx, main, argv: list, span: str) -> tuple:
    """Run a job's entry point in this process, on this process's
    session, under a span: the job's closing ``spark.stop()`` is
    skipped, so the warm JVM and Python workers carry over to the next
    run, as in a long-lived driver that submits one job after another.
    Returns (exit code, the last JSON line the job printed)."""
    from pyspark.sql import SparkSession

    buf = io.StringIO()
    code = 0
    stop = SparkSession.stop
    SparkSession.stop = lambda self: None
    try:
        with ctx.tracer.span(span), contextlib.redirect_stdout(buf):
            main(argv)
    except SystemExit as e:
        code = e.code or 0
    finally:
        SparkSession.stop = stop
    lines = [ln for ln in buf.getvalue().splitlines() if ln.startswith("{")]
    return code, (json.loads(lines[-1]) if lines else {})


class JobResume:
    """``jobs/featurize.py`` (VW output, threshold hot-key detection):
    a full run, a simulated crash that drops the lineage records of the
    later half of the bucket groups while their files stay, and a
    resume run with ``--verify``."""

    n_convs, turns_per_conv, mega, files = 396, 20, 80, 4
    rows = n_convs * turns_per_conv + mega
    num_buckets, group_size = 8, 4
    sample = 16
    ops = 2

    def __init__(self, ctx):
        self.ctx = ctx

    def inputs(self):
        from aloha_spark.plans.flagship import FLAGSHIP_SPEC
        c = self.ctx
        self.turns, self.state = write_transcripts(
            c.spark, f"{c.work}/in", c.seed, self.n_convs,
            self.turns_per_conv, self.mega, self.files)
        self.spec = f"{c.work}/spec.json"
        with open(self.spec, "w") as f:
            json.dump(FLAGSHIP_SPEC, f)

    def _paths(self):
        d = f"{self.ctx.work}/job"
        return f"{d}/out", f"{d}/lineage"

    def _job(self, extra: list, span: str) -> tuple:
        import jobs.featurize as job

        out, lin = self._paths()
        argv = ["--turns", self.turns, "--state", self.state,
                "--out", out, "--lineage", lin, "--spec", self.spec,
                "--output", "vw", "--hot-key-threshold", str(self.mega // 2),
                "--num-buckets", str(self.num_buckets),
                "--group-size", str(self.group_size)] + extra
        return run_job(self.ctx, job.main, argv, span)

    def _crash(self, groups: int) -> None:
        """Delete the lineage files of the later half of the groups."""
        import pyarrow.parquet as pq
        _, lin = self._paths()
        for fn in os.listdir(lin):
            if not fn.endswith(".parquet"):
                continue
            b = pq.read_table(os.path.join(lin, fn),
                              columns=["batch_id"]).column(0).to_pylist()
            if b and b[0] >= groups // 2:
                os.remove(os.path.join(lin, fn))

    def round(self):
        shutil.rmtree(f"{self.ctx.work}/job", ignore_errors=True)
        failed = 0
        code, full = self._job([], "job.run")
        groups = full.get("groups", 0)
        if code or groups < 2 or full.get("written_buckets") != self.num_buckets:
            failed += 1
        self._crash(groups)
        code, res = self._job(["--verify"], "job.resume")
        want = self.num_buckets - (groups // 2) * self.group_size
        if code or res.get("lineage_mismatches") != 0 \
                or res.get("written_buckets") != want:
            failed += 1
        self.last = (full, res)
        return 2, failed

    def check(self):
        """The last timed round's resumed output."""
        c = self.ctx
        out, _ = self._paths()
        convs = _sample_convs(c.spark, self.turns, c.seed, self.sample)
        pit = oracles.point_in_time(_read_convs(c.spark, self.turns, convs),
                                    _read_convs(c.spark, self.state, convs))
        got = _read_convs(c.spark, out, convs)
        probs = oracles.check_vw(pit, got)
        oracles.assert_rejects(oracles.check_vw, pit[:1], got, oracles.leak_vw)
        n = c.spark.read.parquet(out).count()
        if n != self.rows:
            probs.append(f"{n} output rows for {self.rows} turns")
        c.checked["job"] = {
            "rows_compared": len(pit),
            "hot_rows_compared": int((pit.conv_id == "mega").sum()),
            "resume": self.last[1]}
        return 0, probs

    def layers(self, tracer) -> dict:
        from pyspark.sql import functions as F

        full, res = self.last
        out, _ = self._paths()
        nbytes = nfiles = 0
        for d, _, fs in os.walk(out):
            for f in fs:
                if f.endswith(".parquet"):
                    nfiles += 1
                    nbytes += os.path.getsize(os.path.join(d, f))
        later = (full.get("groups", 0) // 2) * self.group_size
        rewritten = self.ctx.spark.read.parquet(out) \
            .where(F.col("bucket") >= later).count()
        return {"job.rewritten_rows": rewritten,
                "lineage.groups": full.get("groups", 0),
                "lineage.buckets_written": res.get("written_buckets", 0),
                "lineage.buckets_skipped": res.get("skipped_buckets", 0),
                "lineage.bytes_written": nbytes,
                "lineage.files_written": nfiles}


class StreamTail:
    """``streaming.stateful.run_turn_features_to_sink``: a multi-file
    transcript source drained with availableNow, two files per
    micro-batch, into a checkpointed parquet sink."""

    n_convs, turns_per_conv, files, files_per_batch = 100, 50, 4, 2
    rows = n_convs * turns_per_conv
    ops = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.n = 0

    def inputs(self):
        c = self.ctx
        self.src = f"{c.work}/src"
        write_stream_source(c.spark, self.src, c.seed, self.n_convs,
                            self.turns_per_conv, self.files)

    def _run(self) -> str:
        from aloha_spark.streaming.stateful import run_turn_features_to_sink
        c = self.ctx
        self.n += 1
        d = f"{c.work}/stream{self.n}"
        with c.tracer.span("stream.run"):
            run_turn_features_to_sink(c.spark, self.src, f"{d}/out",
                                      f"{d}/ckpt",
                                      max_files=self.files_per_batch)
        return d

    def round(self):
        """One drain; its output stays until the next round, for
        ``check``."""
        if self.n:
            shutil.rmtree(f"{self.ctx.work}/stream{self.n}", ignore_errors=True)
        self._run()
        return 1, 0

    def check(self):
        """The last timed round's output, every row checked."""
        c = self.ctx
        got = c.spark.read.parquet(f"{c.work}/stream{self.n}/out").toPandas()
        turns = c.spark.read.parquet(self.src).toPandas()
        c.checked["stream"] = {"rows_compared": len(turns)}
        oracles.assert_rejects(oracles.check_stream, turns, got,
                               oracles.shift_stream)
        return 0, oracles.check_stream(turns, got)

    def layers(self, tracer) -> dict:
        return {}


class Curate:
    """``jobs/curate.py`` over seeded documents: quality, language, PII
    scrub, exact dedup, 8-gram decontamination
    against a benchmark slice, split assignment and ``--stage-counts``,
    ending in its bucketed write with lineage."""

    n_docs, files = 1000, 4
    rows = n_docs
    num_buckets, group_size = 4, 4
    ops = 1

    def __init__(self, ctx):
        self.ctx = ctx

    def inputs(self):
        c = self.ctx
        self.docs, self.bench = write_documents(c.spark, f"{c.work}/in",
                                                c.seed, self.n_docs, self.files)

    def _paths(self):
        d = f"{self.ctx.work}/curate"
        return f"{d}/out", f"{d}/lineage"

    def round(self):
        import jobs.curate as job

        out, lin = self._paths()
        shutil.rmtree(f"{self.ctx.work}/curate", ignore_errors=True)
        argv = ["--docs", self.docs, "--out", out, "--lineage", lin,
                "--min-quality", "0.5", "--langs", "en", "--scrub-pii",
                "--exact-dedup", "--decontam-docs", self.bench, "--split",
                "train=0.98,val=0.01,test=0.01", "--stage-counts",
                "--num-buckets", str(self.num_buckets),
                "--group-size", str(self.group_size)]
        code, self.report = run_job(self.ctx, job.main, argv, "curate.run")
        return 1, int(bool(code) or self.report.get("written_buckets")
                      != self.num_buckets)

    def check(self):
        """The last timed round's output: ``oracles.check_curate``, and
        ``verify_lineage`` over it finds no mismatch."""
        from aloha_spark.plans.lineage import verify_lineage

        c = self.ctx
        out, lin = self._paths()
        got = c.spark.read.parquet(out).toPandas()
        docs = c.spark.read.parquet(self.docs).select("doc_id", "lang").toPandas()
        bench = c.spark.read.parquet(self.bench).toPandas()
        probs = oracles.check_curate(docs, bench, got)
        oracles.assert_rejects(lambda e, g: oracles.check_curate(docs, bench, g),
                               None, got, oracles.repeat_text)
        bad = verify_lineage(c.spark, out, lin, ts_col="doc_id").count()
        if bad:
            probs.append(f"verify_lineage: {bad} mismatching buckets")
        c.checked["curate"] = {"docs_compared": len(got),
                               "bench_docs": len(bench), "report": self.report}
        return 0, probs

    def layers(self, tracer) -> dict:
        return {"curate.docs_out": self.report.get("output_rows", 0)}


class WriteJobs:
    """The entry points that write, one after another in each round: the
    featurize job's crash and resume, a curate job and a streaming
    drain."""

    min_rounds = 1

    def __init__(self, ctx):
        self.parts = [JobResume(ctx), Curate(ctx), StreamTail(ctx)]
        self.job = self.parts[0]
        self.rows = sum(p.rows for p in self.parts)
        self.ops = sum(p.ops for p in self.parts)

    def inputs(self):
        for p in self.parts:
            with p.ctx.tracer.span(f"inputs.{type(p).__name__}"):
                p.inputs()

    def warmup(self):
        """None: every entry point runs cold in the first round, as a
        job submitted once per process does."""
        return 0, 0

    def round(self):
        a = f = 0
        for p in self.parts:
            pa, pf = p.round()
            a, f = a + pa, f + pf
        return a, f

    def check(self):
        a, probs = 0, []
        for p in self.parts:
            pa, pp = p.check()
            a, probs = a + pa, probs + pp
        return a, probs

    def layers(self, tracer) -> dict:
        out = {}
        for p in self.parts:
            out.update(p.layers(tracer))
        return out


WORKLOADS = {"pit_skewed": PitSkewed, "write_jobs": WriteJobs}
