"""Kill/resume test: crash after K bucket-groups, resume, byte-identical
output + verified lineage."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from aloha_spark.data.transcripts import make_transcripts
from aloha_spark.plans.lineage import (
    completed_buckets,
    verify_lineage,
    write_with_lineage,
)


def _read_sorted(spark, path):
    pdf = spark.read.parquet(path).toPandas()
    return pdf.sort_values(["conv_id", "turn_idx"]) \
        .reset_index(drop=True)[sorted(pdf.columns)]


def test_kill_and_resume_byte_identical(spark, tmp_path):
    df = make_transcripts(spark, n_convs=40, turns_per_conv=10).cache()

    clean_out = str(tmp_path / "clean")
    clean_lin = str(tmp_path / "clean_lineage")
    write_with_lineage(df, clean_out, clean_lin, num_buckets=8, group_size=2)

    out = str(tmp_path / "resumed")
    lin = str(tmp_path / "resumed_lineage")
    with pytest.raises(RuntimeError, match="injected failure"):
        write_with_lineage(df, out, lin, num_buckets=8, group_size=2,
                           fail_after_groups=2)
    done_after_crash = completed_buckets(spark, lin)
    assert 0 < len(done_after_crash) < 8

    report = write_with_lineage(df, out, lin, num_buckets=8, group_size=2)
    assert sorted(report.skipped_buckets) == sorted(done_after_crash)
    assert set(report.written_buckets) == set(range(8)) - done_after_crash

    got = _read_sorted(spark, out)
    exp = _read_sorted(spark, clean_out)
    pd.testing.assert_frame_equal(got, exp)

    # lineage checksums match the written data exactly
    assert verify_lineage(spark, out, lin).count() == 0


def test_rewrite_to_empty_bucket_leaves_no_stale_rows(spark, tmp_path):
    """Dynamic partition overwrite never touches partitions absent from
    the written data: a bucket rewritten (post-repair) whose NEW content
    is empty must not keep its old files on disk, and session config
    must not be left mutated."""
    from pyspark.sql import functions as F

    from aloha_spark.plans.lineage import BUCKET_COL, repair, with_bucket

    df = make_transcripts(spark, n_convs=40, turns_per_conv=5).cache()
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lin")
    prior = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    write_with_lineage(df, out, lin, num_buckets=8, group_size=8)
    assert spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode") == prior

    # pick a bucket that has rows, evict it, and rewrite from an
    # upstream WITHOUT that bucket's conversations
    some = (with_bucket(df, "conv_id", 8)
            .groupBy(BUCKET_COL).count().orderBy(BUCKET_COL).first())
    target = some[BUCKET_COL]
    assert some["count"] > 0
    repair(spark, lin, [target])
    drop_convs = (with_bucket(df, "conv_id", 8)
                  .where(F.col(BUCKET_COL) == target)
                  .select("conv_id").distinct())
    shrunk = df.join(drop_convs, "conv_id", "left_anti")
    write_with_lineage(shrunk, out, lin, num_buckets=8, group_size=8)

    on_disk = (spark.read.parquet(out)
               .where(F.col(BUCKET_COL) == target).count())
    assert on_disk == 0, "stale rows survived the empty-bucket rewrite"
    assert verify_lineage(spark, out, lin).count() == 0


def test_lineage_detects_tamper(spark, tmp_path):
    df = make_transcripts(spark, n_convs=10, turns_per_conv=5)
    out = str(tmp_path / "o")
    lin = str(tmp_path / "l")
    write_with_lineage(df, out, lin, num_buckets=4, group_size=4)
    # tamper: drop one bucket's files
    import glob
    import shutil
    victim = glob.glob(f"{out}/bucket=*")[0]
    shutil.rmtree(victim)
    assert verify_lineage(spark, out, lin).count() >= 1


class TestRepair:
    def test_verify_detects_and_repair_heals(self, spark, tmp_path):
        """Delete a bucket directory behind the lineage table's back:
        verify_lineage must flag exactly it, repair + rewrite must heal,
        and the healed table must re-verify clean."""
        import shutil

        from pyspark.sql import functions as F

        from aloha_spark.plans.lineage import (
            repair, verify_lineage, write_with_lineage)

        df = spark.range(2000).select(
            F.concat(F.lit("c"), (F.col("id") % 97)).alias("conv_id"),
            F.col("id").alias("turn_idx"),
            (F.lit("2025-01-01 00:00:00").cast("timestamp")
             + F.make_interval(secs=F.col("id"))).alias("ts"))
        out = str(tmp_path / "out")
        lin = str(tmp_path / "lin")
        write_with_lineage(df, out, lin, num_buckets=16, group_size=8)
        assert verify_lineage(spark, out, lin).count() == 0

        victim = sorted(p.name for p in (tmp_path / "out").iterdir()
                        if p.name.startswith("bucket="))[3]
        shutil.rmtree(tmp_path / "out" / victim)
        bad = verify_lineage(spark, out, lin).collect()
        assert [r[0] for r in bad] == [int(victim.split("=")[1])]

        repair(spark, lin, [r[0] for r in bad])
        rep = write_with_lineage(df, out, lin, num_buckets=16, group_size=8)
        assert rep.written_buckets == [int(victim.split("=")[1])]
        assert verify_lineage(spark, out, lin).count() == 0


class TestPrecomputedBucketGuard:
    """A precomputed bucket_col value outside [0, num_buckets) used to
    be SILENT ROW LOSS (no group's isin filter matched it); now it is a
    loud distributed assert at write time."""

    def _df(self, spark, buckets):
        from pyspark.sql import functions as F
        return spark.createDataFrame(
            [(i, b) for i, b in enumerate(buckets)], "id int, shard int") \
            .withColumn("ts", F.col("id").cast("timestamp"))

    def test_out_of_range_bucket_is_loud(self, spark, tmp_path):
        df = self._df(spark, [0, 1, 9])       # 9 outside [0, 4)
        with pytest.raises(Exception, match="outside \\[0, 4\\)"):
            write_with_lineage(df, str(tmp_path / "o"),
                               str(tmp_path / "l"), key="id", ts_col="ts",
                               num_buckets=4, bucket_col="shard")
        # several groups: the guard fires in the persisted upstream too
        with pytest.raises(Exception, match="outside \\[0, 4\\)"):
            write_with_lineage(df, str(tmp_path / "o1"),
                               str(tmp_path / "l1"), key="id", ts_col="ts",
                               num_buckets=4, group_size=1,
                               bucket_col="shard")

    def test_null_bucket_is_loud(self, spark, tmp_path):
        df = self._df(spark, [0, 1, None])
        with pytest.raises(Exception, match="NULL"):
            write_with_lineage(df, str(tmp_path / "o2"),
                               str(tmp_path / "l2"), key="id", ts_col="ts",
                               num_buckets=4, bucket_col="shard")

    def test_in_range_buckets_unchanged(self, spark, tmp_path):
        df = self._df(spark, [0, 1, 3, 2])
        rep = write_with_lineage(df, str(tmp_path / "o3"),
                                 str(tmp_path / "l3"), key="id",
                                 ts_col="ts", num_buckets=4,
                                 bucket_col="shard")
        assert sorted(rep.written_buckets) == [0, 1, 2, 3]
        got = sorted(r.id for r in
                     spark.read.parquet(str(tmp_path / "o3")).collect())
        assert got == [0, 1, 2, 3]


class TestUpstreamRunsOnce:
    """Every bucket group filters the same upstream, so a multi-group
    write persists it once instead of re-running it per group (the
    featurize job's windows, as-of join and Arrow stage)."""

    def _counted(self, spark, n):
        """``n`` turns behind a mapInPandas stage (the shape of the
        featurize stage: Catalyst cannot push the group filter below
        it) that counts every row it evaluates."""
        acc = spark.sparkContext.accumulator(0)

        def stage(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        df = (spark.range(n)
              .select(F.concat(F.lit("c"), (F.col("id") % 37).cast("string"))
                      .alias("conv_id"),
                      F.col("id").alias("turn_idx"),
                      F.col("id").cast("timestamp").alias("ts"))
              .mapInPandas(stage,
                           "conv_id string, turn_idx long, ts timestamp"))
        return df, acc

    def test_upstream_evaluated_once(self, spark, tmp_path):
        df, acc = self._counted(spark, 400)
        rep = write_with_lineage(df, str(tmp_path / "o"), str(tmp_path / "l"),
                                 num_buckets=8, group_size=2)
        assert rep.groups == 4
        assert acc.value == 400
        assert spark.read.parquet(str(tmp_path / "o")).count() == 400
        assert verify_lineage(spark, str(tmp_path / "o"),
                              str(tmp_path / "l")).count() == 0

    def test_crash_releases_cache_and_resume_is_identical(self, spark,
                                                          tmp_path):
        df, _ = self._counted(spark, 400)
        clean, out, lin = (str(tmp_path / d) for d in ("clean", "o", "l"))
        write_with_lineage(df, clean, str(tmp_path / "cl"), num_buckets=8,
                           group_size=2)
        before = spark.sparkContext._jsc.getPersistentRDDs().size()
        with pytest.raises(RuntimeError, match="injected failure"):
            write_with_lineage(df, out, lin, num_buckets=8, group_size=2,
                               fail_after_groups=2)
        assert spark.sparkContext._jsc.getPersistentRDDs().size() <= before
        rep = write_with_lineage(df, out, lin, num_buckets=8, group_size=2)
        assert len(rep.skipped_buckets) == 4 and rep.groups == 2
        pd.testing.assert_frame_equal(_read_sorted(spark, out),
                                      _read_sorted(spark, clean))
        assert verify_lineage(spark, out, lin).count() == 0
