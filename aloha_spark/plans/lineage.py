"""Per-partition lineage + checkpoint resume.

Every output bucket gets a lineage row ``(bucket, row_count, min_ts,
max_ts, checksum, batch_id)`` appended to a lineage table after the
bucket's data lands; resume skips buckets already present (anti-join
semantics).  The audit role mirrors the reference's score-audit trail
(aloha-core/.../audit/Auditor.scala:16-28) applied at dataset level.

Buckets are **stable**: ``pmod(xxhash64(key), num_buckets)`` — a pure
function of the data, independent of cluster size or task scheduling, so
a job restarted on different parallelism resumes correctly.

Checksum contract: the lineage row is computed in a separate Spark job
from the data write, so checksum columns must be DETERMINISTIC functions
of the input (no ``current_timestamp()``/``rand()`` in checksummed
columns — they re-evaluate per job and every bucket would "mismatch").
Pass an explicit ``checksum_cols`` excluding any such column.

Granularity: buckets are written in groups (one Spark job per group).
The upstream runs once per call, not once per group: with more than
one group to write, the bucketed frame (filtered to the buckets still
to do) is persisted before the first group and released afterwards,
crash or not.  A crash mid-group leaves orphan files for at most one
group; on resume those buckets are rewritten via dynamic partition
overwrite, so the final table is byte-identical to an uninterrupted
run.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

BUCKET_COL = "bucket"


def with_bucket(df: DataFrame, key: str = "conv_id",
                num_buckets: int = 32) -> DataFrame:
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(F.col(key)), F.lit(num_buckets)).cast("int"))


def _lineage_rows(df: DataFrame, ts_col: str,
                  checksum_cols: Sequence[str]) -> DataFrame:
    return df.groupBy(BUCKET_COL).agg(
        F.count("*").alias("row_count"),
        F.min(ts_col).alias("min_ts"),
        F.max(ts_col).alias("max_ts"),
        # order-insensitive, overflow-free (ANSI-safe) content checksum
        F.bit_xor(F.xxhash64(*[F.col(c).cast("string") for c in checksum_cols]))
         .alias("checksum"),
    )


def completed_buckets(spark: SparkSession, lineage_path: str) -> set[int]:
    """Buckets already recorded.  ONLY a missing lineage path means
    'fresh run' — any other read failure must propagate, because
    swallowing it would silently convert a resume into a full rewrite
    with duplicate lineage rows."""
    from pyspark.errors import AnalysisException

    # finish any marker-committed repair swap before reading (covers
    # every crash window of repair(), including lineage-still-present)
    _recover_repair(lineage_path)
    try:
        rows = spark.read.parquet(lineage_path).select(BUCKET_COL).distinct() \
            .collect()
        return {r[0] for r in rows}
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return set()
        raise


@dataclass
class WriteReport:
    written_buckets: list[int]
    skipped_buckets: list[int]
    groups: int


def _delete_bucket_dirs(spark, out_path: str, buckets) -> None:
    """Remove ``{out_path}/{BUCKET_COL}={b}`` for each bucket (no-op for
    absent dirs) through the Hadoop FileSystem of ``out_path``, so it
    works for any scheme the write itself supports."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for x in buckets:
        p = jvm.org.apache.hadoop.fs.Path(f"{out_path}/{BUCKET_COL}={x}")
        p.getFileSystem(hconf).delete(p, True)


def write_with_lineage(
    df: DataFrame,
    out_path: str,
    lineage_path: str,
    key: str = "conv_id",
    ts_col: str = "ts",
    checksum_cols: Optional[Sequence[str]] = None,
    num_buckets: int = 32,
    group_size: int = 8,
    fail_after_groups: Optional[int] = None,
    bucket_col: Optional[str] = None,
    sort_cols: Optional[Sequence[str]] = None,
) -> WriteReport:
    """Write ``df`` partitioned by stable bucket with per-bucket lineage;
    resume-safe.  ``fail_after_groups`` injects a crash for testing.

    The expensive upstream runs ONCE per call: when more than one group
    is to be written, the bucketed frame restricted to the buckets still
    to do is persisted (default level, which spills) before the group
    loop and unpersisted in a ``finally``.  No copy is made when the
    upstream is already materialized — ``df`` is a filter/projection of
    a cached frame, as curate's persisted output is — or when a single
    group is written.  Lineage rows are aggregated from the files just
    written — a partition-pruned re-read of the output, so the checksum
    records what is actually on disk and the pipeline is never
    recomputed for metadata.

    ``bucket_col`` names a PRECOMPUTED bucket assignment already on
    ``df`` (values must lie in ``[0, num_buckets)`` — e.g. the ``shard``
    column of ``operators/mixture.with_shuffle_order``) instead of
    deriving one from ``key``; resume stability is then the caller's
    contract (a pure content function keeps it).  ``sort_cols`` makes
    the write ORDER-PRESERVING: each group is hash-partitioned on the
    bucket and sorted within partitions, so every bucket directory
    holds exactly one file whose row order is (bucket, *sort_cols) —
    the layout a training data loader replays without sorting.
    """
    spark = df.sparkSession
    if checksum_cols is None:
        # a precomputed bucket_col is renamed to BUCKET_COL below, so it
        # cannot appear under its original name in the checksum
        checksum_cols = [c for c in df.columns if c != bucket_col]
    if bucket_col is None:
        b = with_bucket(df, key, num_buckets)
    else:
        # rename-to-contract: downstream (partitionBy, lineage rows,
        # resume filter) all speak BUCKET_COL.  The caller promises
        # values in [0, num_buckets); a violation would otherwise be
        # SILENT ROW LOSS (todo only iterates range(num_buckets), so
        # out-of-range rows never match any group's isin filter) —
        # assert_true makes it a loud distributed failure instead.
        casted = F.col(bucket_col).cast("int")
        valid = casted.isNotNull() & (casted >= 0) & \
            (casted < F.lit(num_buckets))
        guard = F.assert_true(
            valid, F.concat(
                F.lit(f"write_with_lineage: precomputed bucket_col "
                      f"{bucket_col!r} outside [0, {num_buckets}): "),
                F.coalesce(casted.cast("string"), F.lit("NULL"))))
        b = df.withColumn(BUCKET_COL,
                          F.when(guard.isNull(), casted)) \
            .drop(*([bucket_col] if bucket_col != BUCKET_COL else []))
    done = completed_buckets(spark, lineage_path)
    todo = [x for x in range(num_buckets) if x not in done]
    skipped = sorted(done)
    cached = None
    if len(todo) > group_size and not _reads_cache(b):
        # every group filters the same upstream: materialize it once
        # (in the first group's write) instead of re-running it per group
        cached = b = b.where(F.col(BUCKET_COL).isin(todo)).persist()
    groups = 0
    try:
        for gi in range(0, len(todo), group_size):
            if fail_after_groups is not None and groups >= fail_after_groups:
                raise RuntimeError("injected failure for resume test")
            group = todo[gi:gi + group_size]
            part = b.where(F.col(BUCKET_COL).isin(group))
            if sort_cols:
                # all rows of a bucket hash to ONE partition, so each bucket
                # directory below gets exactly one internally-sorted file
                part = (part.repartition(len(group), F.col(BUCKET_COL))
                            .sortWithinPartitions(BUCKET_COL, *sort_cols))
            # drop the group's bucket dirs first: dynamic overwrite only
            # replaces partitions PRESENT in the written data, so a bucket
            # rewritten (post-repair) with zero rows would otherwise keep
            # its stale files on disk while lineage records row_count=0.
            # Crash-safe: a group is only recorded in lineage after its
            # write, so a crash between delete and write just means the
            # group is rewritten on resume.
            _delete_bucket_dirs(spark, out_path, group)
            # dynamic partition overwrite (per-write option — the session
            # conf must not be mutated for the caller): re-running a
            # half-written group replaces exactly those bucket directories
            (part.write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy(BUCKET_COL)
                 .parquet(out_path))
            # lineage from the WRITTEN files (partition-pruned read): the
            # checksum describes bytes on disk, and the upstream pipeline is
            # not recomputed a second time for metadata.  Explicit schema:
            # a group whose every bucket is empty writes no files, and an
            # all-empty out_path would otherwise fail schema inference
            # (hit when an increment is fully absorbed by snapshot dedup)
            written_part = (spark.read.schema(b.schema).parquet(out_path)
                            .where(F.col(BUCKET_COL).isin(group)))
            # record EMPTY buckets too (row_count=0, null stats): without
            # this a sparse key range re-processes every empty bucket on
            # every resume
            ids = spark.createDataFrame([(x,) for x in group],
                                        f"{BUCKET_COL} int")
            lin = (ids.join(_lineage_rows(written_part, ts_col, checksum_cols),
                            BUCKET_COL, "left")
                   .withColumn("row_count", F.coalesce("row_count", F.lit(0)))
                   .withColumn("batch_id", F.lit(groups)))
            lin.write.mode("append").parquet(lineage_path)
            groups += 1
    finally:
        if cached is not None:
            cached.unpersist()
    return WriteReport(todo, skipped, groups)


def _reads_cache(df: DataFrame) -> bool:
    """True when ``df`` is only filters/projections over a cached frame,
    so its rows are already materialized and cheap to re-read."""
    node = df._jdf.queryExecution().optimizedPlan()
    while node.nodeName() in ("Project", "Filter"):
        node = node.child()
    return node.nodeName() == "InMemoryRelation"


def _repair_tmp(lineage_path: str) -> str:
    return lineage_path.rstrip("/") + ".repair.tmp"


def _repair_marker(lineage_path: str) -> str:
    return lineage_path.rstrip("/") + ".repair.commit"


def _local_path(p: str) -> Optional[str]:
    from urllib.parse import urlparse
    if urlparse(p).scheme not in ("", "file"):
        return None
    return urlparse(p).path or p


def repair(spark: SparkSession, lineage_path: str,
           bad_buckets: Sequence[int]) -> None:
    """Evict lineage rows for the given buckets so the next
    ``write_with_lineage`` call rewrites exactly those buckets (dynamic
    partition overwrite replaces their directories).

    Crash-safe commit protocol: (1) write the repaired table to a
    sibling ``.repair.tmp``, (2) create a ``.repair.commit`` marker —
    the point of no return, (3) remove the old table, (4) rename tmp
    into place, (5) remove the marker.  ``completed_buckets`` finishes
    an interrupted swap ONLY when the marker exists, so a stale tmp
    from a crash before the marker (or from an aborted run) can never
    resurrect an old table over a deliberately deleted one.
    (Rename-based swap assumes a rename-capable filesystem —
    local/HDFS; an object-store deployment would swap via its catalog.)"""
    if not bad_buckets:
        return
    import os
    import shutil

    # a prior repair may have crashed after its commit marker was
    # written (tmp holds the committed repaired table); reading the
    # stale pre-swap table here would resurrect already-evicted rows
    _recover_repair(lineage_path)
    lin = spark.read.parquet(lineage_path)
    keep = lin.where(~F.col(BUCKET_COL).isin(list(bad_buckets)))
    # the lineage table is O(num_buckets x restarts) rows — driver-side
    # materialization is the simple safe way to rewrite the path being
    # read (a direct overwrite would truncate its own input)
    kept = keep.collect()
    tmp = _repair_tmp(lineage_path)
    spark.createDataFrame(kept, keep.schema) \
        .write.mode("overwrite").parquet(tmp)
    lp = _local_path(lineage_path)
    if lp is None:
        # no posix rename available: fall back to the direct overwrite
        # (pre-existing behavior); tmp is left as a manual recovery copy
        spark.createDataFrame(kept, keep.schema) \
            .write.mode("overwrite").parquet(lineage_path)
        return
    tp = _local_path(tmp)
    marker = _local_path(_repair_marker(lineage_path))
    with open(marker, "w") as f:
        f.write(tp)
    shutil.rmtree(lp)
    os.rename(tp, lp)
    os.remove(marker)


def _recover_repair(lineage_path: str) -> bool:
    """Finish a repair swap interrupted after its commit marker was
    written.  Without the marker nothing is touched (a stale tmp is
    inert).  Returns True when a recovery ran."""
    import os
    import shutil

    lp = _local_path(lineage_path)
    if lp is None:
        return False
    tp = _local_path(_repair_tmp(lineage_path))
    marker = _local_path(_repair_marker(lineage_path))
    if not os.path.exists(marker):
        return False
    if os.path.isdir(tp):
        if os.path.exists(lp):
            shutil.rmtree(lp)       # crash was between marker and rmtree
        os.rename(tp, lp)
    # marker without tmp: crash between rename and marker removal —
    # the swap already completed
    os.remove(marker)
    return True


def verify_lineage(spark: SparkSession, out_path: str, lineage_path: str,
                   ts_col: str = "ts",
                   checksum_cols: Optional[Sequence[str]] = None) -> DataFrame:
    """Recompute per-bucket stats from the written data and diff against
    the lineage table; returns mismatching buckets (empty = verified)."""
    data = spark.read.parquet(out_path)
    if checksum_cols is None:
        checksum_cols = [c for c in data.columns if c != BUCKET_COL]
    actual = _lineage_rows(data, ts_col, checksum_cols)
    recorded = spark.read.parquet(lineage_path) \
        .select(BUCKET_COL, "row_count", "min_ts", "max_ts", "checksum")
    a, r = actual.alias("a"), recorded.alias("r")
    return (a.join(r, BUCKET_COL, "full_outer")
             .where((F.coalesce(F.col("a.row_count"), F.lit(0))
                     != F.coalesce(F.col("r.row_count"), F.lit(0)))
                    | (F.col("a.checksum").isNotNull()
                       & F.col("r.checksum").isNotNull()
                       & (F.col("a.checksum") != F.col("r.checksum")))))
