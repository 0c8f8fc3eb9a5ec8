"""``replica.publish`` stages its frames concurrently: a failed write
must still leave the prior commit live, and the write jobs must keep
the caller's job group."""

from __future__ import annotations

import os
import warnings

import pytest
from pyspark.sql import functions as F

from canvas_data_2_aws_spark import replica


def _frames(spark, n: int, fail: str | None = None) -> dict:
    """Three small tables; ``fail`` names one whose write raises at
    execution time (after planning succeeded)."""
    frames = {}
    for name in ("a", "b", "c"):
        df = spark.range(n).withColumnRenamed("id", "k")
        if name == fail:
            df = df.withColumn(
                "k",
                F.when(F.col("k") == 3, F.raise_error(F.lit("boom"))).otherwise(
                    F.col("k")
                ),
            )
        frames[name] = df
    return frames


def _rows(root: str, table: str) -> int:
    return replica.row_count(replica.table_dir(root, table))


def test_publish_failed_concurrent_write_keeps_prior_commit(spark, tmp_path):
    root = str(tmp_path / "root")
    replica.publish(root, _frames(spark, 10), token="tok-1")
    man_before = replica.load(root)

    with pytest.raises(Exception, match="boom"):
        replica.publish(root, _frames(spark, 20, fail="b"), token="tok-2")

    assert replica.load(root) == man_before
    for t in ("a", "b", "c"):
        assert spark.read.parquet(replica.table_dir(root, t)).count() == 10

    # The failed version's staged directories are still on disk; the
    # next publish commits that version number for "a" only, and its
    # vacuum reclaims the other tables' leftovers.
    staged = f"__v{man_before['version'] + 1}"
    assert {"a" + staged, "c" + staged} <= set(os.listdir(root))
    man = replica.publish(root, {"a": spark.range(5)}, token="tok-2")
    assert man["token"] == "tok-2"
    assert _rows(root, "a") == 5 and _rows(root, "b") == _rows(root, "c") == 10
    live = {e["dir"] for e in man["tables"].values()}
    assert sorted(os.listdir(root)) == sorted(live | {replica.MANIFEST})


def test_publish_write_jobs_keep_callers_job_group(spark, tmp_path):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("publish-group", "publish-group")
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error", UserWarning)
            replica.publish(str(tmp_path / "root"), {
                "a": spark.range(10), "b": spark.range(20)
            })
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(tracker.getJobIdsForGroup("publish-group")) >= 2
    # No write job ran outside the group.
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped_before
