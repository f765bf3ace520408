"""Checkpoint edge cases from the round-2 ADVICE: empty buckets must not
crash a resumable run, and a ``bucket`` data column in build_fn output must
fail loudly instead of being silently overwritten by partition discovery."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ontology_mapper_spark.checkpoints import (  # noqa: E402
    CheckpointedRun,
    write_bucketed,
)


def test_run_bucketed_skips_empty_buckets(spark, tmp_path):
    """1-row input at n_buckets=4: partitionBy creates exactly one bucket=N
    dir; the other three are empty. r2 crashed with PATH_NOT_FOUND; now the
    missing dirs are recorded complete-with-zero-rows and the run finishes."""
    src = str(tmp_path / "src")
    one = spark.createDataFrame([("u1", 7)], "url string, x int")
    write_bucketed(one, "url", src, n_buckets=4)
    present = [e for e in os.listdir(src) if e.startswith("bucket=")]
    assert len(present) == 1  # precondition: 3 of 4 bucket dirs are absent

    run = CheckpointedRun(spark, str(tmp_path / "out"), n_buckets=4)
    got = run.run_bucketed(src, lambda df: df.withColumn("y", F.col("x") * 2))
    assert [(r["url"], r["y"]) for r in got.collect()] == [("u1", 14)]

    # all 4 buckets are in lineage, so a resume re-processes nothing
    lineage = spark.read.parquet(os.path.join(str(tmp_path / "out"), "_lineage"))
    assert lineage.count() == 4
    assert run.completed_buckets() == {0, 1, 2, 3}
    empty = lineage.filter(F.col("rows_in") == 0)
    assert empty.count() == 3


def test_run_bucket_rejects_bucket_data_column(spark, tmp_path):
    """build_fn output carrying a 'bucket' column would be corrupted on
    read-back (partition-dir value wins over the data value) — the run must
    refuse it up front (r2 ADVICE, empirically-verified corruption)."""
    src = str(tmp_path / "src")
    rows = spark.createDataFrame(
        [(f"u{i}", i) for i in range(20)], "url string, x int"
    )
    write_bucketed(rows, "url", src, n_buckets=2)
    run = CheckpointedRun(spark, str(tmp_path / "out"), n_buckets=2)
    with pytest.raises(ValueError, match="reserved for the checkpoint layout"):
        run.run_bucketed(src, lambda df: df.withColumn("bucket", F.lit(10)))


def test_run_bucketed_renamed_bucket_column_roundtrips(spark, tmp_path):
    """The documented escape hatch — rename before returning — preserves the
    data values exactly."""
    src = str(tmp_path / "src")
    rows = spark.createDataFrame(
        [(f"u{i}", i) for i in range(20)], "url string, x int"
    )
    write_bucketed(rows, "url", src, n_buckets=2)
    run = CheckpointedRun(spark, str(tmp_path / "out"), n_buckets=2)
    got = run.run_bucketed(
        src, lambda df: df.withColumn("data_bucket", F.lit(10))
    )
    vals = {r["data_bucket"] for r in got.collect()}
    assert vals == {10}
    assert got.count() == 20


def test_run_bucketed_wrong_input_path_raises(spark, tmp_path):
    """A missing/mistyped input_path must crash BEFORE any lineage write —
    r3 review finding: recording all buckets complete-with-zero-rows would
    make every later resume a silent no-op."""
    run = CheckpointedRun(spark, str(tmp_path / "out"), n_buckets=4)
    with pytest.raises(FileNotFoundError, match="input_path does not exist"):
        run.run_bucketed(str(tmp_path / "nope"), lambda df: df)
    # no lineage written
    assert run.completed_buckets() == set()
    # an existing dir with no bucket=N layout is also rejected
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(FileNotFoundError, match="no bucket=N"):
        run.run_bucketed(str(empty), lambda df: df)
    assert run.completed_buckets() == set()


def test_run_bucketed_n_buckets_mismatch_raises(spark, tmp_path):
    """Input written with MORE buckets than the run scans would silently
    drop the tail buckets forever — must raise up front (r3 review)."""
    src = str(tmp_path / "src")
    rows = spark.createDataFrame(
        [(f"u{i}", i) for i in range(200)], "url string, x int"
    )
    write_bucketed(rows, "url", src, n_buckets=8)
    run = CheckpointedRun(spark, str(tmp_path / "out"), n_buckets=4)
    with pytest.raises(ValueError, match="beyond n_buckets=4"):
        run.run_bucketed(src, lambda df: df)
    assert run.completed_buckets() == set()
    # matching n_buckets processes everything
    run8 = CheckpointedRun(spark, str(tmp_path / "out8"), n_buckets=8)
    assert run8.run_bucketed(src, lambda df: df).count() == 200


def test_run_bucket_releases_cache_when_build_fails(
    spark, tmp_path, cache_entries
):
    """A build_fn whose output raises inside the bucket's first action must
    not leave its cached output behind: the run releases it on the way
    out, so the CacheManager returns to its baseline."""
    src = str(tmp_path / "src")
    rows = spark.createDataFrame([(f"u{i}", i) for i in range(4)], "url string, x int")
    write_bucketed(rows, "url", src, n_buckets=1)
    run = CheckpointedRun(spark, str(tmp_path / "out"), n_buckets=1)
    boom = F.udf(lambda x: x // 0, "int")
    before = cache_entries()
    with pytest.raises(Exception, match="ZeroDivisionError"):
        run.run_bucketed(src, lambda df: df.withColumn("y", boom("x")))
    assert cache_entries() == before
    assert run.completed_buckets() == set()
