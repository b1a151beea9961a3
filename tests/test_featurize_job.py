"""``jobs/featurize.py`` run in-process: lineage-verified writes through
one sink and the three-sink fan-out, on the caller's own session."""

import importlib.util
import json
import os

import pytest
from pyspark.sql import SparkSession

_spec = importlib.util.spec_from_file_location(
    "featurize_job", os.path.join(os.path.dirname(__file__), "..",
                                  "jobs", "featurize.py"))
featurize_job = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(featurize_job)

#: runtime confs the job sets on the session it runs on
_JOB_CONFS = ("spark.sql.execution.arrow.maxRecordsPerBatch",
              "spark.sql.session.timeZone",
              "spark.sql.execution.arrow.pyspark.enabled",
              "spark.sql.adaptive.enabled")


@pytest.fixture
def job_inputs(spark, tmp_path):
    from aloha_spark.data.transcripts import make_state, make_transcripts
    from aloha_spark.plans.flagship import FLAGSHIP_SPEC

    turns = make_transcripts(spark, n_convs=12, turns_per_conv=6,
                             mega_turns=10)
    turns.write.parquet(str(tmp_path / "turns"))
    make_state(spark, turns).write.parquet(str(tmp_path / "state"))
    with open(tmp_path / "spec.json", "w") as f:
        json.dump(FLAGSHIP_SPEC, f)
    return turns.count()


def _run(spark, tmp_path, capsys, *extra):
    argv = ["--turns", str(tmp_path / "turns"),
            "--state", str(tmp_path / "state"),
            "--out", str(tmp_path / "out"),
            "--lineage", str(tmp_path / "lineage"),
            "--spec", str(tmp_path / "spec.json"),
            "--num-buckets", "4", "--group-size", "2", "--verify", *extra]
    before = {k: spark.conf.get(k, None) for k in _JOB_CONFS}
    with pytest.raises(SystemExit) as exit_:
        featurize_job.main(argv)
    # the job restores every runtime conf it set on the caller's session
    assert {k: spark.conf.get(k, None) for k in _JOB_CONFS} == before
    lines = [ln for ln in capsys.readouterr().out.splitlines()
             if ln.startswith("{")]
    return exit_.value.code, json.loads(lines[-1])


def test_verified_run_keeps_callers_session(spark, tmp_path, capsys,
                                            job_inputs):
    code, res = _run(spark, tmp_path, capsys, "--output", "vw")
    assert code == 0
    assert res["lineage_mismatches"] == 0 and res["groups"] == 2
    assert res["written_buckets"] + res["skipped_buckets"] == 4
    # the job ran on the caller's session and left it running
    assert SparkSession.getActiveSession() is spark
    assert spark.read.parquet(str(tmp_path / "out")).count() == job_inputs


def test_multi_sink_fan_out_verifies_each_sink(spark, tmp_path, capsys,
                                               job_inputs):
    persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
    code, res = _run(spark, tmp_path, capsys, "--output", "multi")
    assert code == 0 and sorted(res["sinks"]) == ["libsvm", "sparse", "vw"]
    for name, r in res["sinks"].items():
        assert r["lineage_mismatches"] == 0 and r["groups"] == 2, name
        n = spark.read.parquet(str(tmp_path / "out" / name)).count()
        assert n == job_inputs, name
    # no persisted upstream outlives the job
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == persisted
    code, res = _run(spark, tmp_path, capsys, "--output", "multi")
    assert code == 0
    assert all(r["written_buckets"] == 0 for r in res["sinks"].values())
